"""Conditional real-codec battery (round-4 verdict item 5).

This sandbox ships without soundfile / Pillow / pyav, so every test here
SKIPS — but the moment an environment provides the libraries, the gated
branches in audio_codec.decode_external / multimodal.decode_image /
multimodal.sample_video_frames stop being dead code: these tests round-trip
a real compressed container through them and through the downstream Spark
plumbing. The raise-paths for absent libraries stay covered by
test_audio_codec.py / test_imagery.py.
"""

import numpy as np
import pytest

from shaclapi_spark import audio_codec as ac


def test_gates_raise_cleanly_when_libs_absent():
    """Whatever the environment, the gate must either raise
    NotImplementedError naming the missing library or ValueError (the
    corrupt-input contract) — never a foreign library exception."""
    blob = b"\x00" * 64  # not RIFF, not SGA1
    with pytest.raises((NotImplementedError, ValueError)) as ei:
        ac.decode_external(blob, "mp3")
    if ei.type is NotImplementedError:
        assert "soundfile" in str(ei.value)


def test_native_container_variants_never_fall_through_to_pillow():
    """A BMP/PPM blob the native decoder rejects (unsupported variant /
    truncated) must raise ValueError from multimodal.decode_image in ANY
    environment — falling through to Pillow would decode rows the
    validation layer (image_meta / the image suite) classifies 'unsupported',
    breaking the meta-vs-decode agreement."""
    import struct

    from shaclapi_spark.pipeline import imagery as im
    from shaclapi_spark.pipeline import multimodal as mm

    good = bytearray(im.encode_bmp(im.synth_pixels(5, 8, 6)))
    bpp32 = bytes(good[:28]) + struct.pack("<H", 32) + bytes(good[30:])
    with pytest.raises(ValueError):
        mm.decode_image(bpp32)
    with pytest.raises(ValueError):
        mm.decode_image(bytes(good[:30]))  # truncated BMP
    with pytest.raises(ValueError):
        mm.sample_video_frames(b"SGV1" + b"\x00" * 4)  # truncated SGV1


def test_flac_roundtrip_via_soundfile():
    soundfile = pytest.importorskip("soundfile")
    import io

    s = ac.synth_sine(440.0, 16000, 4000, 0.5)
    buf = io.BytesIO()
    soundfile.write(buf, s, 16000, format="FLAC", subtype="PCM_16")
    back = ac.decode_external(buf.getvalue(), "flac")
    assert back.dtype == np.int16
    assert np.array_equal(back, s)  # FLAC is lossless


def test_stereo_collapses_to_mono_via_soundfile():
    soundfile = pytest.importorskip("soundfile")
    import io

    s = ac.synth_sine(440.0, 16000, 2000, 0.5)
    stereo = np.stack([s, s], axis=1)
    buf = io.BytesIO()
    soundfile.write(buf, stereo, 16000, format="FLAC", subtype="PCM_16")
    back = ac.decode_external(buf.getvalue(), "flac")
    assert back.ndim == 1 and np.array_equal(back, s)


def test_png_roundtrip_via_pillow():
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    from shaclapi_spark.pipeline import imagery as im
    from shaclapi_spark.pipeline import multimodal as mm

    pix = im.synth_pixels(7, 16, 12)
    buf = io.BytesIO()
    PIL_Image.fromarray(pix).save(buf, format="PNG")
    back = mm.decode_image(buf.getvalue())
    assert np.array_equal(back, pix)  # PNG is lossless


def test_jpeg_decodes_via_pillow():
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    from shaclapi_spark.pipeline import imagery as im
    from shaclapi_spark.pipeline import multimodal as mm

    pix = im.synth_pixels(3, 32, 24)
    buf = io.BytesIO()
    PIL_Image.fromarray(pix).save(buf, format="JPEG", quality=95)
    back = mm.decode_image(buf.getvalue())
    assert back.shape == pix.shape and back.dtype == np.uint8
    # lossy: mean absolute error small, not exact
    assert float(np.abs(back.astype(int) - pix.astype(int)).mean()) < 16


def test_mp4_frame_sampling_via_pyav():
    av = pytest.importorskip("av")
    import io

    from shaclapi_spark.pipeline import multimodal as mm

    n_frames, w, h = 12, 64, 48
    buf = io.BytesIO()
    with av.open(buf, mode="w", format="mp4") as container:
        stream = container.add_stream("mpeg4", rate=10)
        stream.width, stream.height, stream.pix_fmt = w, h, "yuv420p"
        for i in range(n_frames):
            arr = np.full((h, w, 3), (i * 20) % 255, dtype=np.uint8)
            frame = av.VideoFrame.from_ndarray(arr, format="rgb24")
            for packet in stream.encode(frame):
                container.mux(packet)
        for packet in stream.encode():
            container.mux(packet)
    frames = mm.sample_video_frames(buf.getvalue(), every_n=5)
    assert len(frames) == 3  # frames 0, 5, 10
    assert all(f.shape == (h, w) and f.dtype == np.uint8 for f in frames)


def test_real_decode_feeds_spark_plumbing(spark):
    """When Pillow exists, a real PNG flows through the same mapInPandas
    plumbing the native codecs use — schema and batch shape identical."""
    PIL_Image = pytest.importorskip("PIL.Image")
    import io

    import pandas as pd
    from pyspark.sql import Row

    from shaclapi_spark.pipeline import imagery as im
    from shaclapi_spark.pipeline import multimodal as mm

    pix = im.synth_pixels(5, 8, 6)
    buf = io.BytesIO()
    PIL_Image.fromarray(pix).save(buf, format="PNG")
    df = spark.createDataFrame([Row(img_id="p0", bytes=buf.getvalue())])

    def gen(batches):
        for pdf in batches:
            out = []
            for i, blob in zip(pdf["img_id"], pdf["bytes"]):
                arr = mm.decode_image(bytes(blob))
                out.append((i, int(arr.sum())))
            yield pd.DataFrame(out, columns=["img_id", "px_sum"])

    got = df.mapInPandas(gen, schema="img_id string, px_sum long").collect()
    assert got[0].px_sum == int(pix.sum())
