"""Image/video multimodal layer: real-container codecs (BMP/PPM/SGV1)
round-trip against pure-numpy references; JVM-builtin metadata parse and
Arrow-pass pixel/frame stats match driver-side recomputation exactly."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from shaclapi_spark import fixture_io
from shaclapi_spark.pipeline import imagery as im
from shaclapi_spark.pipeline import multimodal as mm


# ---------------------------------------------------------------------------
# codecs (no Spark)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("w,h", [(24, 16), (5, 3), (7, 2), (1, 1)])
def test_bmp_ppm_round_trip(w, h):
    pix = im.synth_pixels(42, w, h)
    assert np.array_equal(im.decode_image(im.encode_bmp(pix)), pix)
    assert np.array_equal(im.decode_image(im.encode_ppm(pix)), pix)


def test_bmp_stride_padding():
    # w=5 -> 15 payload bytes/row padded to 16; total must match spec
    pix = im.synth_pixels(1, 5, 3)
    blob = im.encode_bmp(pix)
    assert len(blob) == 54 + 16 * 3
    assert blob[:2] == b"BM"


def test_generic_ppm_header_accepted():
    # decoder accepts any whitespace/comment-formed P6, not just the
    # fixture's fixed-width header
    pix = im.synth_pixels(9, 4, 3)
    generic = b"P6\n# comment\n4 3\n255\n" + pix.tobytes()
    assert np.array_equal(im.decode_image(generic), pix)


def test_decode_image_rejections():
    pix = im.synth_pixels(3, 8, 8)
    good = im.encode_bmp(pix)
    with pytest.raises(ValueError):
        im.decode_image(None)
    with pytest.raises(ValueError):
        im.decode_image(b"XX" + good[2:])
    with pytest.raises(ValueError):
        im.decode_image(good[: len(good) // 2])
    # 8-bit BMP variant rejected (bpp word at offset 28)
    bad_bpp = bytearray(good)
    bad_bpp[28:30] = (8).to_bytes(2, "little")
    with pytest.raises(ValueError):
        im.decode_image(bytes(bad_bpp))


def test_video_round_trip_and_sampling():
    fr = im.synth_frames(7, 16, 12, 6)
    blob = im.encode_video(fr, 25)
    hdr, back = im.decode_video(blob)
    assert hdr == {"w": 16, "h": 12, "n_frames": 6, "fps": 25}
    assert np.array_equal(back, fr)
    s = im.sample_video_frames(blob, every_n=2)
    assert len(s) == 3 and np.array_equal(s[1], fr[2])
    with pytest.raises(ValueError):
        im.decode_video(blob[:20])
    with pytest.raises(ValueError):
        im.sample_video_frames(blob, every_n=0)


def test_resize_nearest_exact_index_rule():
    pix = im.synth_pixels(3, 24, 16)
    t = im.resize_nearest(pix, 8, 6)
    assert t.shape == (6, 8, 3)
    for y in range(6):
        for x in range(8):
            assert np.array_equal(t[y, x], pix[(y * 16) // 6, (x * 24) // 8])


def test_multimodal_stubs_delegate():
    # the formerly-gated multimodal entry points now decode BMP/PPM/SGV1
    pix = im.synth_pixels(11, 6, 4)
    assert np.array_equal(mm.decode_image(im.encode_bmp(pix)), pix)
    frames = im.synth_frames(11, 8, 6, 4)
    got = mm.sample_video_frames(im.encode_video(frames), every_n=3)
    assert len(got) == 2 and np.array_equal(got[1], frames[3])
    # unknown container still raises the gated NotImplementedError
    with pytest.raises(NotImplementedError):
        mm.decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)


# ---------------------------------------------------------------------------
# Spark ops on the fixture tables
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def av_tables(spark):
    paths = fixture_io.ensure_fixture_pandas(2000)
    return (
        spark.read.parquet(paths["images"]),
        spark.read.parquet(paths["videos"]),
    )


def test_image_meta_statuses(spark, av_tables):
    images, _ = av_tables
    meta = im.image_meta(images).collect()
    by_id = {r["img_id"]: r for r in meta}
    assert len(by_id) == 500
    for r in meta:
        i = int(r["img_id"][4:])
        if i % 127 == 0:
            assert r["status"] == "null"
        elif i % 89 == 0:
            assert r["status"] == "bad_magic"
        elif i % 101 == 0:
            assert r["status"] == "truncated"
        else:
            assert r["status"] == "ok", r
            assert (r["fmt"] == "bmp") == (i % 5 < 3)
            assert (r["width"], r["height"], r["bpp"]) == (24, 16, 24)
            assert r["need_bytes"] == r["actual_bytes"]


def test_video_meta_statuses(spark, av_tables):
    _, videos = av_tables
    for r in im.video_meta(videos).collect():
        i = int(r["vid_id"][4:])
        if i % 127 == 0:
            assert r["status"] == "null"
        elif i % 89 == 0:
            assert r["status"] == "bad_magic"
        elif i % 101 == 0:
            assert r["status"] == "truncated"
        else:
            assert r["status"] == "ok"
            assert (r["width"], r["height"], r["n_frames"], r["fps"]) == (
                16, 12, 6, 25,
            )


def test_image_pixel_stats_exact(spark, av_tables):
    images, _ = av_tables
    got = {r["img_id"]: r for r in im.image_pixel_stats(images).collect()}
    n_checked = 0
    for i in range(500):
        iid = f"img_{i:08d}"
        if i % 127 == 0 or i % 89 == 0 or i % 101 == 0:
            assert iid not in got
            continue
        pix = im.synth_pixels(i, 24, 16).astype(np.int64)
        r = got[iid]
        cs = pix.sum(axis=(0, 1))
        assert (r["sum_r"], r["sum_g"], r["sum_b"]) == tuple(int(v) for v in cs)
        assert r["min_px"] == int(pix.min()) and r["max_px"] == int(pix.max())
        assert r["luma_sum"] == int(299 * cs[0] + 587 * cs[1] + 114 * cs[2])
        assert (r["width"], r["height"]) == (24, 16)
        n_checked += 1
    assert n_checked > 450


def test_image_resize_stats_exact(spark, av_tables):
    images, _ = av_tables
    got = {
        r["img_id"]: r
        for r in im.image_resize_stats(images, 8, 6).collect()
    }
    pos_w = 1 + np.arange(48, dtype=np.int64).reshape(6, 8)
    for i in (1, 2, 3, 7, 123):
        t = im.resize_nearest(im.synth_pixels(i, 24, 16), 8, 6).astype(np.int64)
        r = got[f"img_{i:08d}"]
        cs = t.sum(axis=(0, 1))
        assert (r["sum_r"], r["sum_g"], r["sum_b"]) == tuple(int(v) for v in cs)
        luma = 299 * t[:, :, 0] + 587 * t[:, :, 1] + 114 * t[:, :, 2]
        assert r["checksum"] == int((pos_w * luma).sum())
    with pytest.raises(ValueError):
        im.image_resize_stats(images, 0, 6)


def test_video_frame_stats_exact(spark, av_tables):
    _, videos = av_tables
    rows = im.video_frame_stats(videos, every_n=2).collect()
    got = {(r["vid_id"], r["frame_idx"]): r for r in rows}
    for i in (1, 2, 3, 11):
        fr = im.synth_frames(i, 16, 12, 6).astype(np.int64)
        sel = fr[::2]
        prev = None
        for j, f_idx in enumerate(range(0, 6, 2)):
            r = got[(f"vid_{i:08d}", f_idx)]
            assert r["n_px"] == 192
            assert r["sum_val"] == int(sel[j].sum())
            assert r["min_val"] == int(sel[j].min())
            assert r["max_val"] == int(sel[j].max())
            expect_mo = 0 if prev is None else int(np.abs(sel[j] - prev).sum())
            assert r["motion_abs"] == expect_mo
            prev = sel[j]
    # corrupted rows emit nothing
    # (idx 0 is a NULL-bytes seed, idx 89 a bad-magic seed — both absent)
    assert ("vid_00000089", 0) not in got and ("vid_00000000", 0) not in got
    assert ("vid_00000001", 0) in got


def test_image_ops_plan_shape(spark, av_tables):
    # metadata op must stay UDF-free (pure projection over the scan);
    # stats ops must be a single Arrow pass with no shuffle
    images, videos = av_tables
    meta_plan = im.image_meta(images)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in meta_plan and "BatchEvalPython" not in meta_plan
    assert "Exchange" not in meta_plan
    stats_plan = (
        im.image_pixel_stats(images)._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in stats_plan and "Exchange" not in stats_plan

    # every header consumer compiles under whole-stage codegen: with the
    # interpreted fallback off, a projection past the JVM's 64 KB method
    # limit raises instead of silently running interpreted
    from shaclapi_spark import fixtures
    from shaclapi_spark.engine import run_suite
    from shaclapi_spark.pipeline import audio_analysis as aa

    clips = spark.read.parquet(fixture_io.ensure_fixture_pandas(2000)["clips"])
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        # collect, not count: count() would prune the parsed columns away
        assert len(im.image_meta(images).collect()) == 500
        assert len(im.video_meta(videos).collect()) == 250
        assert len(aa.container_stats(clips).collect()) == clips.count()
        assert len(mm.container_kind(images, "img_id").collect()) == 500
        tables = {"images": images, "videos": videos}
        for suite in (fixtures.image_suite(), fixtures.video_suite()):
            res = run_suite(spark, suite, tables)
            assert res.verdicts.count() > 0 and res.violations.count() > 0
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)


# ---------------------------------------------------------------------------
# perceptual dHash + validation-suite surface (round 4)
# ---------------------------------------------------------------------------

def test_dhash_reference_properties():
    pix = im.synth_pixels(12, 24, 16)
    h1 = im.dhash_pixels(pix)
    # brightness-shift invariance (gradient hash ignores uniform offsets)
    shifted = np.clip(pix.astype(np.int64) + 10, 0, 255).astype(np.uint8)
    assert im.dhash_pixels(shifted) == h1
    # signed-64 discipline: always fits BIGINT
    for i in range(50):
        v = im.dhash_pixels(im.synth_pixels(i, 24, 16))
        assert -(1 << 63) <= v < (1 << 63)


def test_image_dhash_matches_reference(spark, av_tables):
    images, _ = av_tables
    got = {r["img_id"]: r["dhash"] for r in im.image_dhash(images).collect()}
    for i in (1, 2, 3, 7, 12, 123):
        assert got[f"img_{i:08d}"] == im.dhash_pixels(
            im.synth_pixels(i, 24, 16)
        )
    assert f"img_{0:08d}" not in got  # null seed skipped


def test_dhash_neardups_equals_bruteforce(spark, av_tables):
    images, _ = av_tables
    sl = images.filter(F.expr("CAST(substr(img_id, 5) AS BIGINT) % 16 = 0"))
    got = {
        (r["a"], r["b"], r["hamming"])
        for r in im.dhash_neardups(sl, max_hamming=2).collect()
    }
    sig = {r["img_id"]: r["dhash"] for r in im.image_dhash(sl).collect()}
    ids = sorted(sig)
    brute = set()
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            hm = bin((sig[ids[x]] ^ sig[ids[y]]) & ((1 << 64) - 1)).count("1")
            if hm <= 2:
                brute.add((ids[x], ids[y], hm))
    assert got == brute and len(brute) > 0
    # the stop-bucket cap strictly reduces (or keeps) the pair set
    capped = {
        (r["a"], r["b"], r["hamming"])
        for r in im.dhash_neardups(sl, max_hamming=2, max_bucket=3).collect()
    }
    assert capped <= got


def test_image_suite_verdicts(spark, av_tables):
    from shaclapi_spark import fixtures
    from shaclapi_spark.engine import run_suite

    images, _ = av_tables
    res = run_suite(spark, fixtures.image_suite(), {"images": images})
    by_id = {r["entity_id"]: r for r in res.verdicts.collect()}
    assert len(by_id) == 500
    for i in range(500):
        r = by_id[f"img_{i:08d}"]
        if i % 127 == 0 or i % 89 == 0 or i % 101 == 0:
            assert not r["is_valid"] and r["reason"] == "img_decodable", r
        elif i % 73 == 0:
            # catalog metadata lies about the width -> img_dims fires
            assert not r["is_valid"] and r["reason"] == "img_dims", r
        else:
            assert r["is_valid"] and r["reason"] is None, r


def test_video_fingerprint_matches_reference(spark, av_tables):
    _, videos = av_tables
    got = {
        (r["vid_id"], r["frame_idx"]): r["fhash"]
        for r in im.video_fingerprint(videos, every_n=1).collect()
    }
    for i in (1, 2, 3, 11):
        fr = im.synth_frames(i, 16, 12, 6)
        for t in range(6):
            assert got[(f"vid_{i:08d}", t)] == im.frame_dhash(fr[t])
    with pytest.raises(ValueError):
        im.video_fingerprint(videos, every_n=0)


def test_video_content_matches_bruteforce(spark, av_tables):
    _, videos = av_tables
    sl = videos.filter(F.expr("CAST(substr(vid_id, 5) AS BIGINT) % 8 = 0"))
    got = {
        (r["a"], r["b"]): r["n_shared"]
        for r in im.video_content_matches(sl, min_shared=2).collect()
    }
    toks = {}
    for r in im.video_fingerprint(sl).collect():
        toks.setdefault(r["vid_id"], set()).add(r["fhash"])
    ids = sorted(toks)
    brute = {}
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            n = len(toks[ids[x]] & toks[ids[y]])
            if n >= 2:
                brute[(ids[x], ids[y])] = n
    assert got == brute and len(brute) > 0
    # stop-bucket cap only shrinks the pair set
    capped = {
        (r["a"], r["b"])
        for r in im.video_content_matches(sl, min_shared=2, max_bucket=3).collect()
    }
    assert capped <= set(got)


def test_video_suite_verdicts(spark, av_tables):
    from shaclapi_spark import fixtures
    from shaclapi_spark.engine import run_suite

    _, videos = av_tables
    res = run_suite(spark, fixtures.video_suite(), {"videos": videos})
    by_id = {r["entity_id"]: r for r in res.verdicts.collect()}
    assert len(by_id) == 250
    for i in range(250):
        r = by_id[f"vid_{i:08d}"]
        if i % 127 == 0 or i % 89 == 0 or i % 101 == 0:
            assert not r["is_valid"] and r["reason"] == "vid_decodable", r
        elif i % 61 == 0:
            assert not r["is_valid"] and r["reason"] == "vid_frames", r
        else:
            assert r["is_valid"] and r["reason"] is None, r


def test_image_suite_composes_with_lineage_and_enforce(spark, av_tables, tmp_path):
    # the image suite is a first-class citizen of the ENGINE's operational
    # machinery: checkpointed hash-bucket waves (resumable lineage) and
    # clean/quarantine enforcement work over the images table unchanged
    from shaclapi_spark import api, fixtures, lineage
    from shaclapi_spark.engine import run_suite

    images, _ = av_tables
    suite = fixtures.image_suite()

    # lineage waves: union of per-wave verdicts == direct run
    out = str(tmp_path / "img_lineage")
    run = lineage.run_with_lineage(
        spark, suite, {"images": images}, "ImageShape", out, n_waves=4
    )
    waved = {
        (r["entity_id"], r["is_valid"])
        for r in spark.read.parquet(f"{out}/verdicts").collect()
    }
    direct = {
        (r["entity_id"], r["is_valid"])
        for r in run_suite(spark, suite, {"images": images}).verdicts.collect()
    }
    assert waved == direct
    # resume is a no-op when all waves are complete
    run2 = lineage.run_with_lineage(
        spark, suite, {"images": images}, "ImageShape", out, n_waves=4
    )
    assert run2.ran == [] and len(run2.completed) == 4

    # enforce: clean ∪ quarantine partitions the table; quarantine ids are
    # exactly the invalid entities
    clean, quarantine = api.enforce(
        spark, suite, {"images": images}, "ImageShape", "img_id"
    )
    n_clean, n_quar = clean.count(), quarantine.count()
    assert n_clean + n_quar == 500
    bad = {r["img_id"] for r in quarantine.collect()}
    expect_bad = {
        f"img_{i:08d}"
        for i in range(500)
        if i % 127 == 0 or i % 89 == 0 or i % 101 == 0 or i % 73 == 0
    }
    assert bad == expect_bad


def test_image_suite_incremental_revalidation(spark, av_tables):
    # version-diff incremental revalidation composes with the image suite:
    # flip some catalog widths, drop some rows, add one — merged verdicts
    # must equal a full re-run of the new version
    from collections import Counter

    from shaclapi_spark import fixtures, revalidate
    from shaclapi_spark.engine import run_suite

    images, _ = av_tables
    suite = fixtures.image_suite()
    idx = F.expr("CAST(substr(img_id, 5) AS BIGINT)")
    new_images = (
        images.filter(~(idx % 41 == 7))  # deletions
        .withColumn(
            "meta_w",
            F.when(idx % 53 == 2, F.lit(99)).otherwise(F.col("meta_w")),
        )  # metadata now lies for a new slice -> img_dims flips
    )
    old = {"images": images}
    new = {"images": new_images}
    old_res = run_suite(spark, suite, old)
    full_new = run_suite(spark, suite, new)
    inc = revalidate.revalidate_incremental(
        spark, suite, old, new, old_res.verdicts
    )
    s = lambda v: Counter(
        (r.entity_id, r.shape, r.is_valid)
        for r in v.select("entity_id", "shape", "is_valid").collect()
    )
    assert s(inc.verdicts) == s(full_new.verdicts)
    pops = revalidate.affected_populations(suite, old, new)
    n_aff = pops["ImageShape"].count()
    assert 0 < n_aff < 100  # bounded slice of 500


def test_container_kind_router(spark, av_tables):
    from shaclapi_spark import audio_codec as ac
    from shaclapi_spark.pipeline import multimodal as mmod
    from pyspark.sql import Row
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    wav = ac.encode_wav(ac.synth_sine(440.0, 8000, 32, 0.5), 8000)
    sga1 = ac.encode_clip(440.0, 8000, 32, 0.5, "pcm_s16le")
    rows = [
        Row(id="a", bytes=sga1),
        Row(id="w", bytes=wav),
        Row(id="b", bytes=im.encode_bmp(im.synth_pixels(1, 4, 3))),
        Row(id="p", bytes=im.encode_ppm(im.synth_pixels(2, 4, 3))),
        Row(id="v", bytes=im.encode_video(im.synth_frames(3, 4, 3, 2))),
        Row(id="x", bytes=b"garbage"),
        Row(id="n", bytes=None),
    ]
    df = spark.createDataFrame(
        rows,
        StructType([StructField("id", StringType()), StructField("bytes", BinaryType())]),
    )
    got = {r["id"]: (r["kind"], r["n_bytes"]) for r in mmod.container_kind(df, "id").collect()}
    assert got == {
        "a": ("sga1", len(sga1)),
        "w": ("wav", len(wav)),
        "b": ("bmp", 54 + 12 * 3),
        "p": ("ppm", 19 + 36),
        "v": ("sgv1", 11 + 24),
        "x": ("unknown", 7),
        "n": ("null", 0),
    }, got
    # census groups over the mixed relation; plan is UDF-free
    census = mmod.container_census([df], ["id"])
    assert {r["kind"]: r["n"] for r in census.collect()} == {
        "sga1": 1, "wav": 1, "bmp": 1, "ppm": 1, "sgv1": 1, "unknown": 1, "null": 1,
    }
    plan = mmod.container_kind(df, "id")._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_thumbnail_bmp_export_round_trip(spark, av_tables):
    # the exported thumbnail blobs are REAL BMPs carrying exactly the
    # resample-selected pixels
    images, _ = av_tables
    th = {r["img_id"]: r for r in im.thumbnail_bmp(images, 8, 6).collect()}
    for i in (1, 2, 3, 123):
        r = th[f"img_{i:08d}"]
        expect = im.resize_nearest(im.synth_pixels(i, 24, 16), 8, 6)
        assert np.array_equal(im.decode_image(bytes(r["bytes"])), expect)
        assert len(r["bytes"]) == 54 + im.bmp_row_bytes(8) * 6
    assert "img_00000000" not in th  # null seed skipped
    with pytest.raises(ValueError):
        im.thumbnail_bmp(images, 0, 6)


def test_image_stream_validation(spark, av_tables, tmp_path):
    # the streaming row-validation path handles the image suite (expr
    # constraints over derived columns) — micro-batch verdicts equal the
    # batch row-subset, resumable via the stream checkpoint
    from shaclapi_spark import fixtures
    from shaclapi_spark.streaming import row_verdict_stream, validate_stream

    images, _ = av_tables
    src = str(tmp_path / "img_src")
    images.limit(200).coalesce(2).write.parquet(src)
    suite = fixtures.image_suite()
    out = str(tmp_path / "img_stream_out")
    n = validate_stream(
        spark, suite, "ImageShape", src, images.schema, out,
        max_files_per_trigger=1,
    )
    assert n >= 1
    got = {
        (r["entity_id"], r["is_valid"])
        for r in spark.read.parquet(f"{out}/verdicts").collect()
    }
    exp_vd, _ = row_verdict_stream(
        spark.read.parquet(src), suite.shape("ImageShape")
    )
    expect = {(r["entity_id"], r["is_valid"]) for r in exp_vd.collect()}
    assert got == expect and len(got) == 200
    # rerun: checkpoint makes it a no-op
    assert validate_stream(
        spark, suite, "ImageShape", src, images.schema, out
    ) == 0


def test_video_excerpt_export_round_trip(spark, av_tables):
    # the exported excerpts are REAL SGV1 blobs carrying exactly the
    # sampled frames, fps scaled down
    images_unused, videos = av_tables
    ex = {r["vid_id"]: r for r in im.video_excerpt(videos, 2).collect()}
    for i in (1, 2, 3, 11):
        r = ex[f"vid_{i:08d}"]
        hdr, frames = im.decode_video(bytes(r["bytes"]))
        expect = im.synth_frames(i, 16, 12, 6)[::2]
        assert np.array_equal(frames, expect)
        assert hdr == {"w": 16, "h": 12, "n_frames": 3, "fps": 12}
        assert r["n_frames"] == 3
    assert "vid_00000000" not in ex  # null seed skipped
    with pytest.raises(ValueError):
        im.video_excerpt(videos, 0)


def test_multimodal_export_shards(spark, av_tables, tmp_path):
    # end-to-end export: real WAV files and BMP thumbnails flow through
    # the generic shard writer — manifest verifies on re-read, one parquet
    # file per shard dir, blobs survive byte-exactly
    from shaclapi_spark import audio_codec as ac
    from shaclapi_spark import fixture_io as fio
    from shaclapi_spark.pipeline import audio_transform as at
    from shaclapi_spark.pipeline import shards as sh

    clips = spark.read.parquet(fio.ensure_fixture_pandas(2000)["clips"]).limit(300)
    wav = at.transcode_wav(clips)
    out = str(tmp_path / "wav_shards")
    manifest = sh.write_shards(wav, out, 4, id_col="clip_id", text_col="bytes")
    reread = spark.read.parquet(out)
    ver = sh.verify_shards(reread, manifest, 4, id_col="clip_id", text_col="bytes")
    assert all(r["ok"] for r in ver.collect())
    # a re-read blob is a byte-identical, decodable WAV
    r = reread.limit(1).collect()[0]
    hdr, s = ac.decode_wav(bytes(r["bytes"]))
    assert hdr["codec"] == "pcm_wav" and len(s) == r["n_samples"]

    images, _ = av_tables
    th = im.thumbnail_bmp(images, 8, 6)
    out2 = str(tmp_path / "thumb_shards")
    m2 = sh.write_shards(th, out2, 4, id_col="img_id", text_col="bytes")
    v2 = sh.verify_shards(
        spark.read.parquet(out2), m2, 4, id_col="img_id", text_col="bytes"
    )
    assert all(r["ok"] for r in v2.collect())
