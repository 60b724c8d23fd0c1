"""Audio transform ops: silence trim, PCM content fingerprint / cross-codec
dedup, integer decimation resample — integer-exact vs pure-numpy references."""

import hashlib

import numpy as np
import pytest
from pyspark.sql import Row

from shaclapi_spark import audio_codec as ac
from shaclapi_spark.pipeline import audio_transform as at


def _padded_clip(lead=37, body=200, trail=11, amp=20000, codec="pcm_s16le", sr=16000):
    """Clip with known silence padding: zeros, then a loud square, then zeros."""
    s = np.concatenate(
        [
            np.zeros(lead, dtype=np.int16),
            np.full(body, amp, dtype=np.int16),
            np.zeros(trail, dtype=np.int16),
        ]
    )
    return ac.encode_samples(s, codec, sr), s


def test_encode_samples_roundtrip():
    s = np.arange(-300, 300, 7, dtype=np.int16)
    for codec in ("pcm_s16le", "flac", "opus"):
        hdr, out = ac.decode_clip(ac.encode_samples(s, codec, 8000))
        assert hdr["codec"] == codec and hdr["sr_hz"] == 8000
        if codec == "opus":
            assert np.max(np.abs(out.astype(int) - s.astype(int))) < 64
        else:
            assert np.array_equal(out, s)


def test_trim_silence_bounds(spark):
    blob, _ = _padded_clip(lead=37, body=200, trail=11)
    df = spark.createDataFrame([Row(clip_id="c1", bytes=bytearray(blob))])
    r = at.trim_silence(df, thresh=500).collect()[0]
    assert (r.n_samples, r.lead_sil, r.trail_sil) == (248, 37, 11)
    assert r.n_kept == 200
    assert r.n_silent == 48


def test_trim_silence_bytes_roundtrip(spark):
    blob, s = _padded_clip(lead=5, body=50, trail=9, codec="flac")
    df = spark.createDataFrame([Row(clip_id="c1", bytes=bytearray(blob))])
    r = at.trim_silence(df, thresh=500, with_bytes=True).collect()[0]
    hdr, out = ac.decode_clip(bytes(r.bytes_trimmed))
    assert hdr["codec"] == "flac"
    assert np.array_equal(out, s[5:-9])


def test_trim_all_silent_clip(spark):
    s = np.zeros(64, dtype=np.int16)
    df = spark.createDataFrame(
        [Row(clip_id="z", bytes=bytearray(ac.encode_samples(s, "pcm_s16le", 8000)))]
    )
    r = at.trim_silence(df, thresh=500, with_bytes=True).collect()[0]
    assert (r.lead_sil, r.trail_sil, r.n_kept, r.n_silent) == (64, 0, 0, 64)
    _, out = ac.decode_clip(bytes(r.bytes_trimmed))
    assert len(out) == 0


def test_fingerprint_cross_codec(spark):
    s = ac.synth_sine(440.0, 16000, 300, 0.6)
    rows = [
        Row(clip_id="pcm", bytes=bytearray(ac.encode_samples(s, "pcm_s16le", 16000))),
        Row(clip_id="flc", bytes=bytearray(ac.encode_samples(s, "flac", 16000))),
        Row(clip_id="ops", bytes=bytearray(ac.encode_samples(s, "opus", 16000))),
    ]
    fp = {r.clip_id: r.pcm_md5 for r in at.pcm_fingerprint(spark.createDataFrame(rows)).collect()}
    # lossless containers agree on content; lossy does not
    assert fp["pcm"] == fp["flc"] != fp["ops"]
    # canonical digest matches an independent derivation
    expect = hashlib.md5(",".join(map(str, s.astype(int).tolist())).encode()).hexdigest()
    assert fp["pcm"] == expect


def test_content_dup_groups(spark):
    s1 = ac.synth_sine(440.0, 16000, 300, 0.6)
    s2 = ac.synth_sine(523.0, 16000, 280, 0.4)
    rows = [
        Row(clip_id="a", bytes=bytearray(ac.encode_samples(s1, "pcm_s16le", 16000))),
        Row(clip_id="b", bytes=bytearray(ac.encode_samples(s1, "flac", 16000))),
        Row(clip_id="c", bytes=bytearray(ac.encode_samples(s2, "flac", 16000))),
    ]
    groups = at.content_dup_groups(spark.createDataFrame(rows)).collect()
    assert len(groups) == 1
    g = groups[0]
    assert (g.n_clips, g.n_codecs, g.first_clip, g.last_clip) == (2, 2, "a", "b")


def test_decimate_exact(spark):
    s = ac.synth_sine(440.0, 16000, 333, 0.7)
    df = spark.createDataFrame(
        [Row(clip_id="c1", bytes=bytearray(ac.encode_samples(s, "pcm_s16le", 16000)))]
    )
    r = at.decimate(df, factor=4, with_bytes=True).collect()[0]
    kept = s[::4]
    assert (r.sr_out, r.n_out) == (4000, len(kept))
    expect = hashlib.md5(",".join(map(str, kept.astype(int).tolist())).encode()).hexdigest()
    assert r.dec_md5 == expect
    hdr, out = ac.decode_clip(bytes(r.bytes_out))
    assert hdr["sr_hz"] == 4000 and np.array_equal(out, kept)


def test_decimate_factor_validation(spark):
    df = spark.createDataFrame([Row(clip_id="c", bytes=bytearray(b""))])
    with pytest.raises(ValueError):
        at.decimate(df, factor=0)


def test_transcode_lossless_roundtrip(spark):
    s = ac.synth_sine(330.0, 8000, 256, 0.5)
    df = spark.createDataFrame(
        [Row(clip_id="c1", bytes=bytearray(ac.encode_samples(s, "flac", 8000)))]
    )
    out = at.transcode(df, "pcm_s16le").collect()[0]
    hdr, dec = ac.decode_clip(bytes(out.bytes))
    assert hdr["codec"] == "pcm_s16le" and np.array_equal(dec, s)
    with pytest.raises(ValueError):
        at.transcode(df, "mp3")


def test_transforms_on_fixture(spark, fixture_tables):
    """The ops run over the real fixture and skip corrupt/NULL rows the
    same way the other multimodal extractors do."""
    from pyspark.sql import functions as F

    clips = fixture_tables["clips"]
    n_fp = at.pcm_fingerprint(clips).count()
    n_tr = at.trim_silence(clips).count()
    assert n_fp == n_tr
    assert n_fp > 0
    # content dups exist by fixture construction (sample content has
    # period 1280 in i, so i and i+1280 collide)
    assert at.content_dup_groups(clips).count() > 0
    # cross-container dups: a lossless flac -> pcm transcode fingerprints
    # identically, and content dedup catches it where byte dedup cannot
    flac = clips.filter(F.col("codec") == "flac").limit(50)
    xcoded = at.transcode(flac, "pcm_s16le").withColumn(
        "clip_id", F.concat(F.lit("xcode_"), F.col("clip_id"))
    )
    unioned = clips.select("clip_id", "bytes").unionByName(
        xcoded.select("clip_id", "bytes")
    )
    assert at.content_dup_groups(unioned).filter("n_codecs > 1").count() > 0


def test_normalize_gain_exact(spark):
    s = ac.synth_sine(440.0, 16000, 300, 0.5)  # peak ~16384
    df = spark.createDataFrame(
        [Row(clip_id="c1", bytes=bytearray(ac.encode_samples(s, "pcm_s16le", 16000)))]
    )
    r = at.normalize_gain(df, target_peak=26000, with_bytes=True).collect()[0]
    s64 = s.astype(np.int64)
    max_abs = int(np.abs(s64).max())
    g = (26000 << 15) // max_abs
    gained = (s64 * g) >> 15
    assert (r.max_abs, r.gain_q15) == (max_abs, g)
    expect = hashlib.md5(",".join(map(str, gained.tolist())).encode()).hexdigest()
    assert r.norm_md5 == expect
    hdr, out = ac.decode_clip(bytes(r.bytes_norm))
    assert np.array_equal(out.astype(np.int64), gained)
    # peak lands at (just under) the target, never over
    assert 25900 <= np.abs(gained).max() <= 26000


def test_normalize_gain_silent_and_validation(spark):
    z = np.zeros(32, dtype=np.int16)
    df = spark.createDataFrame(
        [Row(clip_id="z", bytes=bytearray(ac.encode_samples(z, "flac", 8000)))]
    )
    r = at.normalize_gain(df).collect()[0]
    assert (r.max_abs, r.gain_q15) == (0, 1 << 15)  # unity gain convention
    import pytest as _pytest

    with _pytest.raises(ValueError):
        at.normalize_gain(df, target_peak=0)


def _canon_md5(arr):
    return hashlib.md5(",".join(str(int(v)) for v in arr).encode()).hexdigest()


def test_speed_perturb_exact(spark):
    s = np.arange(-500, 500, 3, dtype=np.int16)  # 334 samples
    blob = ac.encode_samples(s, "flac", 16000)
    df = spark.createDataFrame([Row(clip_id="c", bytes=bytearray(blob))])
    for num, den in ((11, 10), (9, 10), (1, 1), (2, 1)):
        r = at.speed_perturb(df, num, den).collect()[0]
        n_out = len(s) * den // num
        idx = (np.arange(n_out, dtype=np.int64) * num) // den
        assert r.n_out == n_out
        assert r.sr_hz == 16000
        assert r.sp_md5 == _canon_md5(s[idx])


def test_speed_perturb_bytes_roundtrip(spark):
    s = np.arange(0, 600, 2, dtype=np.int16)
    blob = ac.encode_samples(s, "pcm_s16le", 8000)
    df = spark.createDataFrame([Row(clip_id="c", bytes=bytearray(blob))])
    r = at.speed_perturb(df, 9, 10, with_bytes=True).collect()[0]
    hdr, out = ac.decode_clip(bytes(r.bytes_out))
    assert hdr["sr_hz"] == 8000
    assert _canon_md5(out) == r.sp_md5


def test_speed_perturb_validation(spark):
    df = spark.createDataFrame([("c", None)], "clip_id string, bytes binary")
    with pytest.raises(ValueError):
        at.speed_perturb(df, 0, 10)
    assert at.speed_perturb(df, 11, 10).count() == 0  # null blob skipped


def test_pad_or_trim_exact(spark):
    s = np.arange(-100, 100, dtype=np.int16)  # 200 samples
    blob = ac.encode_samples(s, "pcm_s16le", 8000)
    df = spark.createDataFrame([Row(clip_id="c", bytes=bytearray(blob))])
    # pad up to 300
    r = at.pad_or_trim(df, 300).collect()[0]
    assert (r.n_in, r.n_pad) == (200, 100)
    assert r.pad_md5 == _canon_md5(
        np.concatenate([s, np.zeros(100, dtype=np.int16)])
    )
    # trim down to 50
    r = at.pad_or_trim(df, 50).collect()[0]
    assert (r.n_in, r.n_pad) == (200, 0)
    assert r.pad_md5 == _canon_md5(s[:50])


def test_pad_or_trim_bytes(spark):
    s = np.full(20, 123, dtype=np.int16)
    blob = ac.encode_samples(s, "opus", 22050)
    df = spark.createDataFrame([Row(clip_id="c", bytes=bytearray(blob))])
    r = at.pad_or_trim(df, 32, with_bytes=True).collect()[0]
    hdr, out = ac.decode_clip(bytes(r.bytes_out))
    assert hdr["sr_hz"] == 22050 and len(out) == 32
    # opus is lossy but the PADDED ZEROS stay exact zeros
    assert np.all(out[20:] == 0)


def _mix_order(ids):
    """The op's pairing order: md5_60('mix:' || id), ties by id."""
    return sorted(
        ids, key=lambda c: (int(hashlib.md5(f"mix:{c}".encode()).hexdigest()[:15], 16), c)
    )


def test_mix_clips_pairing_and_values(spark):
    # three same-sr clips pair cyclically in deterministic hash order;
    # one different-sr clip d: singleton group, mixes with itself.
    samples = {
        "a": np.array([100, -101, 30000], dtype=np.int16),
        "b": np.array([11, 21, 31, 41], dtype=np.int16),
        "c": np.array([-2, -3], dtype=np.int16),
        "d": np.array([7, 9], dtype=np.int16),
    }
    rows = [
        Row(clip_id=cid, sr_hz=16000 if cid != "d" else 8000,
            bytes=bytearray(ac.encode_samples(s, "pcm_s16le", 16000 if cid != "d" else 8000)))
        for cid, s in samples.items()
    ]
    rows.append(Row(clip_id="e", sr_hz=None, bytes=rows[-1].bytes))
    rows.append(Row(clip_id="f", sr_hz=16000, bytes=None))
    out = {r.clip_id: r for r in at.mix_clips(spark.createDataFrame(rows)).collect()}
    # NULL sr and NULL bytes rows are excluded entirely
    assert set(out) == {"a", "b", "c", "d"}
    order = _mix_order(["a", "b", "c"])
    expected_pairs = {
        order[i]: order[(i + 1) % 3] for i in range(3)
    }
    for cid, nid in expected_pairs.items():
        assert out[cid].noise_id == nid
    assert out["d"].noise_id == "d"

    def ref_md5(x, y):
        n = min(len(x), len(y))
        m = (x[:n].astype(np.int32) + y[:n].astype(np.int32)) >> 1
        return hashlib.md5(",".join(map(str, m.tolist())).encode()).hexdigest()

    for cid, nid in expected_pairs.items():
        assert out[cid].mix_md5 == ref_md5(samples[cid], samples[nid])
        assert out[cid].n_out == min(len(samples[cid]), len(samples[nid]))
    assert out["d"].mix_md5 == ref_md5(samples["d"], samples["d"])  # self-mix


def test_mix_clips_negative_floor(spark):
    # (-5 + 2) = -3 -> floor(-1.5) = -2 (arithmetic shift), NOT trunc -1
    sx = np.array([-5], dtype=np.int16)
    sy = np.array([2], dtype=np.int16)
    rows = [
        Row(clip_id="x", sr_hz=8000, bytes=bytearray(ac.encode_samples(sx, "pcm_s16le", 8000))),
        Row(clip_id="y", sr_hz=8000, bytes=bytearray(ac.encode_samples(sy, "pcm_s16le", 8000))),
    ]
    out = {r.clip_id: r for r in at.mix_clips(spark.createDataFrame(rows)).collect()}
    assert out["x"].mix_md5 == hashlib.md5(b"-2").hexdigest()
    assert out["y"].mix_md5 == hashlib.md5(b"-2").hexdigest()


def test_mix_clips_without_rows_is_typed_and_jvm_local(spark):
    out = at.mix_clips(
        spark.createDataFrame([], "clip_id string, sr_hz int, bytes binary")
    )
    assert out.schema == at.MIX_SCHEMA
    assert "Scan ExistingRDD" not in out._jdf.queryExecution().executedPlan().toString()
    assert out.collect() == []


def _expected_mask(cid, s, sr, mask_ms=200, n_masks=2):
    n = len(s)
    L = max(min(sr * mask_ms // 1000, n), 1)
    starts = [
        int(hashlib.md5(f"{cid}:{m}".encode()).hexdigest()[:8], 16) % (n - L + 1)
        for m in range(n_masks)
    ]
    masked = s.astype(np.int64)
    zero = np.zeros(n, dtype=bool)
    for st in starts:
        zero[st : st + L] = True
    masked[zero] = 0
    return L, starts, int(zero.sum()), masked


def test_time_mask_exact(spark):
    sr = 16000
    s = (np.arange(8000, dtype=np.int64) % 1501 - 750).astype(np.int16)
    blob = ac.encode_samples(s, "pcm_s16le", sr)
    df = spark.createDataFrame(
        [("c1", bytearray(blob), sr)], "clip_id string, bytes binary, sr_hz int"
    )
    row = at.time_mask(df, mask_ms=200, n_masks=2).collect()[0]
    L, starts, n_zeroed, masked = _expected_mask("c1", s, sr)
    assert row["mask_len"] == L == 3200
    assert row["mask_starts"] == ",".join(map(str, starts))
    assert row["n_zeroed"] == n_zeroed
    digest = hashlib.md5(",".join(str(int(v)) for v in masked).encode()).hexdigest()
    assert row["masked_md5"] == digest


def test_time_mask_short_clip_fully_masked(spark):
    sr = 16000
    s = np.full(100, 1234, dtype=np.int16)  # < one 200ms span (3200)
    df = spark.createDataFrame(
        [("c1", bytearray(ac.encode_samples(s, "pcm_s16le", sr)), sr)],
        "clip_id string, bytes binary, sr_hz int",
    )
    row = at.time_mask(df).collect()[0]
    assert row["mask_len"] == 100 and row["mask_starts"] == "0,0"
    assert row["n_zeroed"] == 100
    all_zero = hashlib.md5(",".join(["0"] * 100).encode()).hexdigest()
    assert row["masked_md5"] == all_zero


def test_time_mask_skips_and_bytes(spark):
    sr = 16000
    s = (np.arange(4000) % 97 - 48).astype(np.int16)
    blob = bytearray(ac.encode_samples(s, "flac", sr))
    df = spark.createDataFrame(
        [
            ("ok", blob, sr),
            ("null_bytes", None, sr),
            ("null_sr", blob, None),
            ("zero_sr", blob, 0),
            ("garbage", bytearray(b"nope"), sr),
        ],
        "clip_id string, bytes binary, sr_hz int",
    )
    out = at.time_mask(df, with_bytes=True).collect()
    assert [r["clip_id"] for r in out] == ["ok"]
    hdr, dec = ac.decode_clip(bytes(out[0]["bytes_masked"]))
    assert hdr["codec"] == "flac"
    _, starts, n_zeroed, masked = _expected_mask("ok", s, sr)
    assert np.array_equal(dec.astype(np.int64), masked)
    with pytest.raises(ValueError):
        at.time_mask(df, mask_ms=0)
