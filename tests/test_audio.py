"""Audio synth + Arrow PCM validators + the full clips suite."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from voluptuous_spark.audio import (
    PCM_ERR_COL,
    decode_wav_numpy,
    decode_wav_reference,
    encode_wav_pcm16,
    snr_db,
    with_pcm_check,
)
from voluptuous_spark.datasynth import clips_df, transcripts_df
from voluptuous_spark.suite import run_suite

N = 3000
SEED = 42


@pytest.fixture(scope="module")
def clips(spark):
    df = clips_df(spark, N, seed=SEED, partitions=8).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def transcripts(spark):
    df = transcripts_df(spark, N, seed=SEED, partitions=8).cache()
    df.count()
    return df


def test_wav_roundtrip():
    sr = 16000
    t = np.arange(sr // 10) / sr
    samples = (10000 * np.sin(2 * np.pi * 440 * t)).astype(np.int16)
    buf = encode_wav_pcm16(samples, sr)
    s1, r1 = decode_wav_numpy(buf)
    s2, r2 = decode_wav_reference(buf)
    assert r1 == r2 == sr
    assert np.array_equal(s1, samples)
    assert np.array_equal(s2, samples)
    assert snr_db(s1, s2) == float("inf")


def test_decode_rejects_corruption():
    buf = encode_wav_pcm16(np.zeros(100, dtype=np.int16), 8000)
    with pytest.raises(ValueError):
        decode_wav_numpy(b"JUNK" + buf[4:])
    with pytest.raises(ValueError):
        decode_wav_numpy(buf[:20])


def test_snr():
    a = np.array([10000, -10000] * 50, dtype=np.int16)
    noise = a + np.random.default_rng(0).integers(-5, 5, len(a))
    assert snr_db(a, noise.astype(np.int16)) > 60
    assert snr_db(a, np.zeros_like(a)) == float("-inf") or snr_db(
        a, np.zeros_like(a)
    ) < 1


def test_synth_determinism(spark):
    a = clips_df(spark, 50, seed=7, partitions=2).collect()
    b = clips_df(spark, 50, seed=7, partitions=4).collect()
    ka = sorted((r["clip_id"], bytes(r["bytes"])) for r in a)
    kb = sorted((r["clip_id"], bytes(r["bytes"])) for r in b)
    assert ka == kb
    c = clips_df(spark, 50, seed=8, partitions=2).collect()
    assert ka != sorted((r["clip_id"], bytes(r["bytes"])) for r in c)


def test_pcm_check_flags_corrupted(spark, clips):
    checked = with_pcm_check(clips).withColumnRenamed(PCM_ERR_COL, "pcm_err")
    bad = {
        r["clip_id"]: r["pcm_err"]
        for r in checked.filter(F.col("pcm_err").isNotNull()).collect()
    }
    # injected: i%500==13 truncated, i%500==263 bad magic (wav rows only)
    for i in (13, 263):
        cid = f"clip_{i:012d}"
        row = clips.filter(F.col("clip_id") == cid).collect()
        if row and row[0]["codec"] == "wav":
            assert cid in bad, f"{cid} should fail PCM check"
    # clean wav clip passes
    good = checked.filter(
        (F.col("codec") == "wav") & F.col("pcm_err").isNull()
    ).count()
    assert good > 0.8 * checked.filter(F.col("codec") == "wav").count()


def test_transcript_equality(spark, clips, transcripts):
    v = run_suite(clips, transcripts, with_pcm=False).violations.filter(
        F.col("message") == "transcript does not match reference")
    ids = {r["clip_id"] for r in v.collect()}
    # i%500==37 -> side-table mismatch
    assert f"clip_{37:012d}" in ids
    # whitespace-padded transcripts (i%333==2) also differ from side table
    assert len(ids) > 0


def test_full_suite(spark, clips, transcripts):
    res = run_suite(clips, transcripts)
    c = res.counts()
    assert c["rows"] == N
    assert 0 < c["failed"] < N / 2
    assert c["dup_key_rows"] > 0  # injected duplicate clip_ids
    assert c["orphans"] > 0  # injected orphan side rows count via report
    assert c["stats_rows"] == 5
    # violations carry reference-style error types
    etypes = {
        r["error_type"]
        for r in res.violations.select("error_type").distinct().collect()
    }
    assert "InInvalid" in etypes
    assert "RangeInvalid" in etypes
    assert "RequiredFieldInvalid" in etypes
    assert "ValueInvalid" in etypes  # PCM / transcript checks


def test_suite_detects_injected_rates(spark, clips):
    res = run_suite(clips, None, with_pcm=False)
    v = res.violations
    dur_range = v.filter(
        (F.col("path")[0] == "dur_ms") & (F.col("error_type") == "RangeInvalid")
    ).count()
    # ~1% of N out of range (i%100==23, minus overlaps with null injection)
    assert N / 100 * 0.5 < dur_range < N / 100 * 1.5
    sr_bad = v.filter(F.col("path")[0] == "sr_hz").count()
    assert N / 200 * 0.5 < sr_bad < N / 200 * 1.5


def test_walk_riff_independent_of_layout():
    """The reference parser is a generic chunk walker: it accepts
    non-canonical chunk orders the fixed-layout parser rejects — the two
    code paths are genuinely independent."""
    import struct

    from voluptuous_spark.audio import _parse_wav_fixed, _walk_riff

    sr = 8000
    samples = np.arange(100, dtype=np.int16)
    data = samples.tobytes()
    # LIST chunk inserted before fmt: canonical offsets no longer hold
    listc = b"LIST" + struct.pack("<I", 4) + b"INFO"
    body = (
        listc
        + b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )
    buf = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    with pytest.raises(ValueError):
        _parse_wav_fixed(buf)  # fixed layout: fmt not at offset 12
    sr2, off, ln = _walk_riff(memoryview(buf))
    assert sr2 == sr and ln == len(data)
    assert np.array_equal(
        np.frombuffer(buf[off:off + ln], dtype="<i2"), samples
    )
    # and on a canonical file both parsers agree exactly
    canon = encode_wav_pcm16(samples, sr)
    assert _parse_wav_fixed(canon) == _walk_riff(memoryview(canon))


def test_check_one_messages():
    from voluptuous_spark.audio import _check_one

    sr = 16000
    samples = (1000 * np.sin(np.arange(sr // 4))).astype(np.int16)
    buf = encode_wav_pcm16(samples, sr)
    dur = round(len(samples) * 1000.0 / sr)
    assert _check_one(buf, sr, dur, "wav") is None
    assert "sample rate" in _check_one(buf, 44100, dur, "wav")
    assert "duration mismatch" in _check_one(buf, sr, dur + 50, "wav")
    assert "decode failed" in _check_one(buf[:30], sr, dur, "wav")
    assert _check_one(None, sr, dur, "wav") == "required key not provided"
    # non-wav codecs: structural check only
    assert _check_one(b"fLaC1234", None, None, "flac") is None
    assert "truncated" in _check_one(b"ab", None, None, "flac")


def test_pcm_expr_matches_arrow_decoder(spark, clips):
    """Differential: the pure-JVM pcm_check_expr must produce the SAME
    verdict and message as the Arrow dual-decoder path (_check_one) on
    every fixture row — including every injected corruption class."""
    from voluptuous_spark.audio import pcm_check_expr

    both = with_pcm_check(
        clips.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec",
                     pcm_check_expr().alias("jvm_err"))
    ).select(
        "clip_id", "jvm_err", F.col(PCM_ERR_COL).alias("py_err")
    ).collect()
    assert len(both) == N
    diffs = [
        (r["clip_id"], r["jvm_err"], r["py_err"])
        for r in both
        if r["jvm_err"] != r["py_err"]
    ]
    assert not diffs, diffs[:10]


# -- signal features + quality gates ------------------------------------------


def _wav_df(spark, named_samples, sr=16000):
    from voluptuous_spark.audio import encode_wav_pcm16

    rows = [
        (cid, encode_wav_pcm16(s.astype(np.int16), sr), sr,
         round(len(s) * 1000 / sr), "wav")
        for cid, s in named_samples
    ]
    return spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string"
    )


def test_audio_features_known_signals(spark):
    from voluptuous_spark.audio import audio_features

    sr = 16000
    t = np.arange(sr) / sr
    sine = 16384 * np.sin(2 * np.pi * 440 * t)  # -9.03 dBFS RMS
    square = np.where(np.sin(2 * np.pi * 100 * t) >= 0, 32767, -32767)
    silence = np.zeros(sr)
    dc = np.full(sr, 3277)  # +0.1 FS constant

    df = _wav_df(spark, [("sine", sine), ("square", square),
                         ("silence", silence), ("dc", dc)], sr)
    feats = {r["clip_id"]: r for r in audio_features(df).collect()}

    assert "bytes" not in audio_features(df).columns
    s = feats["sine"]
    assert s["n_samples"] == sr
    assert abs(s["rms_db"] - (-9.03)) < 0.1
    assert s["clipping_ratio"] == 0.0
    assert abs(s["dc_offset"]) < 1e-3
    assert abs(s["zcr"] - 2 * 440 / sr) < 0.005  # 2 crossings per cycle

    sq = feats["square"]
    assert sq["clipping_ratio"] > 0.99
    assert abs(sq["peak_db"]) < 0.01  # full scale ~ 0 dBFS

    sil = feats["silence"]
    assert sil["rms_db"] == -120.0 and sil["peak_db"] == -120.0

    d = feats["dc"]
    assert abs(d["dc_offset"] - 0.1) < 1e-3


def test_audio_features_null_for_undecodable(spark):
    df = spark.createDataFrame(
        [("bad", b"JUNKJUNKJUNK", 16000, 100, "wav"),
         ("opus", b"OggS****", 16000, 100, "opus"),
         ("none", None, 16000, 100, "wav")],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string",
    )
    from voluptuous_spark.audio import audio_features

    for r in audio_features(df).collect():
        assert r["rms_db"] is None and r["n_samples"] is None


def test_audio_quality_violations(spark):
    from voluptuous_spark.audio import audio_features, audio_gate_labels

    sr = 16000
    t = np.arange(sr) / sr
    good = 16384 * np.sin(2 * np.pi * 440 * t)
    quiet = 5 * np.sin(2 * np.pi * 440 * t)          # ~-73 dBFS
    hot = np.clip(3.0 * 32767 * np.sin(2 * np.pi * 440 * t), -32767, 32767)
    biased = good * 0.5 + 3277                        # DC ~ +0.1

    df = _wav_df(spark, [("good", good), ("quiet", quiet),
                         ("hot", hot), ("biased", biased)], sr)
    labels = {
        r["clip_id"]: r["g"]
        for r in audio_features(df).select(
            "clip_id", audio_gate_labels().alias("g")).collect()
    }
    assert labels == {"good": "pass", "quiet": "rms_db",
                      "hot": "clipping_ratio", "biased": "dc_offset"}


def test_fullscale_negative_clipping_counted():
    """Regression: np.abs over the int16 view wraps -32768 to -32768, so
    full-scale NEGATIVE samples were not counted as clipped (found by the
    audio_features_check oracle). A square wave at +32767/-32768 must
    report clipping_ratio == 1.0."""
    from voluptuous_spark.audio import _features_one, encode_wav_pcm16

    sq = np.where(np.arange(1000) % 2 == 0, 32767, -32768).astype(np.int16)
    feats = _features_one(encode_wav_pcm16(sq, 8000), "wav")
    n, rms_db, peak_db, clipping, dc, zcr = feats
    assert n == 1000
    assert clipping == 1.0
    assert abs(peak_db - 0.0) < 0.01      # |-32768|/32768 = full scale
    assert zcr == 1.0                     # alternates every sample


def test_oracle_clips_roundtrip(spark):
    """oracle_clips_df variants decode to the planned verdicts through
    BOTH validator paths, and the closed-form sample generator matches
    what the engine decodes back out of the WAV bytes."""
    from voluptuous_spark.audio import (
        decode_wav_numpy, pcm_check_expr, with_pcm_check,
    )
    from voluptuous_spark.datasynth import _oracle_samples, oracle_clips_df

    df = oracle_clips_df(spark, 16).withColumn("jvm_err", pcm_check_expr())
    rows = {r["clip_id"]: r for r in with_pcm_check(df).collect()}
    for c, r in rows.items():
        assert r["jvm_err"] == r["__pcm_err"], (c, r)
        m = c % 8
        if m in (0, 1, 2, 7):
            assert r["__pcm_err"] is None, (c, r)
        else:
            assert r["__pcm_err"] is not None, (c, r)

    # byte-exact decode roundtrip for a valid noise clip
    raw = oracle_clips_df(spark, 16).filter("clip_id = 2").collect()[0]
    s, sr = decode_wav_numpy(raw["bytes"])
    assert sr == 16000
    np.testing.assert_array_equal(s, _oracle_samples(2))


def _smooth_noise(seed, n=16000, amp=8000):
    r = np.random.default_rng(seed).standard_normal(n + 8)
    k = np.hanning(9)
    k /= k.sum()
    s = np.convolve(r, k, mode="valid")
    return (amp * s / np.abs(s).max()).astype(np.int16)


def test_audio_content_signature_and_exact_dedup(spark):
    """Content-defined exact dedup groups identical DECODED samples even
    when container metadata differs; undecodable payloads never group."""
    from voluptuous_spark.audio import audio_exact_duplicates

    sr = 16000
    base = _smooth_noise(1)
    other = _smooth_noise(2)
    rows = [
        ("a", encode_wav_pcm16(base, sr), sr, 1000, "wav", "t"),
        ("b", encode_wav_pcm16(base, sr), sr, 999, "wav", "x"),   # metadata differs
        ("c", encode_wav_pcm16(other, sr), sr, 1000, "wav", "t"),
        ("d", None, sr, 1000, "wav", "t"),
        ("e", None, sr, 1000, "wav", "t"),   # two missing payloads: no group
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int,"
        " codec string, transcript string")
    got = {tuple(r) for r in audio_exact_duplicates(df).collect()}
    assert got == {("b", "a", 2)}


def test_audio_fingerprint_invariances():
    """Scale invariance is exact; small additive noise stays within the
    LSH-guaranteed hamming radius; different content is far."""
    from voluptuous_spark.audio import _fingerprint_one

    sr = 16000
    base = _smooth_noise(1)
    scaled = (base // 4).astype(np.int16)
    noisy = (
        base.astype(np.int32)
        + np.random.default_rng(9).integers(-10, 10, sr)
    ).astype(np.int16)
    other = _smooth_noise(2)
    enc = lambda s: encode_wav_pcm16(s, sr)  # noqa: E731
    f0 = _fingerprint_one(enc(base), "wav")
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")  # noqa: E731
    assert ham(f0, _fingerprint_one(enc(scaled), "wav")) == 0
    assert ham(f0, _fingerprint_one(enc(noisy), "wav")) <= 3
    assert ham(f0, _fingerprint_one(enc(other), "wav")) > 10
    assert _fingerprint_one(None, "wav") is None
    assert _fingerprint_one(enc(base), "opus") is None


def test_audio_near_duplicates(spark):
    """Banded-LSH near-dup: exact + noisy copies surface, different
    content does not; recall is exhaustive for hamming <= n_lsh_bands-1
    (pigeonhole over 4x16-bit bands)."""
    from voluptuous_spark.audio import audio_near_duplicates

    sr = 16000
    base = _smooth_noise(1)
    noisy = (
        base.astype(np.int32)
        + np.random.default_rng(9).integers(-10, 10, sr)
    ).astype(np.int16)
    other = _smooth_noise(2)
    rows = [
        ("a", encode_wav_pcm16(base, sr), sr, 1000, "wav", "t"),
        ("b", encode_wav_pcm16(base, sr), sr, 1000, "wav", "t"),
        ("c", encode_wav_pcm16(noisy, sr), sr, 1000, "wav", "t"),
        ("d", encode_wav_pcm16(other, sr), sr, 1000, "wav", "t"),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int,"
        " codec string, transcript string")
    got = {(r.id_a, r.id_b) for r in audio_near_duplicates(df).collect()}
    assert ("a", "b") in got and ("a", "c") in got
    assert not any("d" in p for p in got)


def test_audio_near_duplicates_128bit(spark):
    """fp_bits=128: 32-bit LSH bands (2^32 buckets — the corpus-scale
    band space) with the same pigeonhole recall. Exact and gain-scaled
    copies land at hamming 0 across both words; different content stays
    out; the wide fingerprint emits afp + afp_hi."""
    from voluptuous_spark.audio import (audio_fingerprints,
                                        audio_near_duplicates)

    sr = 16000
    base = _smooth_noise(1)
    scaled = (base // 4).astype(np.int16)
    other = _smooth_noise(2)
    rows = [
        ("a", encode_wav_pcm16(base, sr), sr, 1000, "wav", "t"),
        ("b", encode_wav_pcm16(scaled, sr), sr, 1000, "wav", "t"),
        ("d", encode_wav_pcm16(other, sr), sr, 1000, "wav", "t"),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int,"
        " codec string, transcript string")
    fp = audio_fingerprints(df, n_bits=128, n_fft=512, hop=256)
    by_id = {r.clip_id: (r.afp, r.afp_hi) for r in fp.collect()}

    def ham(x, y):
        m = (1 << 64) - 1
        return (bin((x[0] ^ y[0]) & m).count("1")
                + bin((x[1] ^ y[1]) & m).count("1"))

    # 128 narrow sub-bands: integer gain truncation can flip near-tie
    # bits, but the copy stays inside the pigeonhole radius while
    # different content is far in BOTH words
    assert ham(by_id["a"], by_id["b"]) <= 3
    assert ham(by_id["a"], by_id["d"]) > 20
    got = {
        (r.id_a, r.id_b)
        for r in audio_near_duplicates(
            df, fp_bits=128, n_fft=512, hop=256
        ).collect()
    }
    assert ("a", "b") in got
    assert not any("d" in p for p in got)
    # reusing a precomputed wide fingerprint table matches
    got2 = {
        (r.id_a, r.id_b)
        for r in audio_near_duplicates(
            df, fp_bits=128, fingerprints=fp
        ).collect()
    }
    assert got2 == got
    # misaligned band split is rejected, not silently mis-bucketed
    import pytest as _pytest

    with _pytest.raises(ValueError):
        audio_near_duplicates(df, fp_bits=128, n_lsh_bands=5)
    # band wider than one fingerprint word would silently bucket on a
    # truncated bit subset — rejected
    with _pytest.raises(ValueError):
        audio_near_duplicates(df, fp_bits=128, n_lsh_bands=1)
    # zero-width bands (more bands than bits) rejected, not a
    # ZeroDivisionError
    with _pytest.raises(ValueError):
        audio_near_duplicates(df, fp_bits=64, n_lsh_bands=128)


def test_audio_segments(spark):
    """Chunking fan-out: per-segment exact stats, shorter tail segment,
    segment bytes decode back to the exact slice, undecodable clips
    produce zero rows."""
    from voluptuous_spark.audio import audio_segments
    from voluptuous_spark.datasynth import _oracle_samples, oracle_clips_df

    df = oracle_clips_df(spark, 8)
    segs = audio_segments(df, window_ms=50, emit_bytes=True)
    rows = {(r.clip_id, r.seg_idx): r for r in segs.collect()}
    # clips 5 (missing payload), 6 (truncated), 7 (non-PCM) emit nothing
    assert not any(c in (5, 6, 7) for c, _ in rows)
    # clip 2: n=2240 at 16kHz -> segments of 800, 800, 640 samples
    v = _oracle_samples(2).astype(np.int64)
    assert [rows[(2, i)].seg_n for i in range(3)] == [800, 800, 640]
    for i in range(3):
        seg = v[i * 800:(i + 1) * 800]
        r = rows[(2, i)]
        assert (r.seg_sum, r.seg_sumsq, r.seg_maxabs, r.seg_start_ms) == (
            int(seg.sum()), int(np.dot(seg, seg)),
            int(np.abs(seg).max()), i * 50,
        )
        dec, sr = decode_wav_numpy(r.seg_bytes)
        assert sr == 16000 and np.array_equal(dec.astype(np.int64), seg)


def _clips_with_transcripts(spark, rows, sr=16000):
    from voluptuous_spark.audio import encode_wav_pcm16

    data = [
        (cid, encode_wav_pcm16(s.astype(np.int16), sr), sr,
         round(len(s) * 1000 / sr), "wav", tr)
        for cid, s, tr in rows
    ]
    return spark.createDataFrame(
        data, "clip_id string, bytes binary, sr_hz int, dur_ms int,"
        " codec string, transcript string")


def test_transcript_consistency_gates(spark):
    """Joint audio<->text gates: speaking-rate bounds from metadata,
    silence/activity vs transcript presence from decoded features."""
    from voluptuous_spark.audio import audio_features, transcript_gate_labels

    sr = 16000
    t = np.arange(sr) / sr  # 1000ms clips
    sine = 16384 * np.sin(2 * np.pi * 440 * t)
    silence = np.zeros(sr)
    df = _clips_with_transcripts(spark, [
        ("ok", sine, "a plausible short line"),   # 22 cps in (2, 25)
        ("fast", sine, "x" * 200),                # 200 cps -> cps_high
        ("empty", sine, "   "),                   # active + no text
        ("silent_t", silence, "hello there"),     # text over silence
        ("slow", sine, "h"),                      # 1 cps -> cps_low
    ])
    feats = audio_features(df)
    kw = dict(max_cps=25.0, min_cps=2.0)
    labels = {
        r["clip_id"]: r["g"]
        for r in feats.select(
            "clip_id", transcript_gate_labels(**kw).alias("g")
        ).collect()
    }
    assert labels == {
        "ok": "pass",
        "fast": "cps_high",
        "empty": "active_empty,transcript_empty",
        "silent_t": "silent_transcribed",
        "slow": "cps_low",
    }


def test_transcript_rate_in_suite(spark):
    """The opt-in speaking-rate gate rides the suite's single-scan select
    and stamps violations at path ['transcript']."""
    from voluptuous_spark.suite import run_suite

    sr = 16000
    t = np.arange(sr) / sr
    sine = 16384 * np.sin(2 * np.pi * 440 * t)
    df = _clips_with_transcripts(spark, [
        ("clip_a", sine, "a plausible short line"),
        ("clip_b", sine, "y" * 400),
    ])
    res = run_suite(df, with_pcm=False, persist=False,
                    transcript_rate=(2.0, 25.0))
    viol = res.violations.collect()
    rate = [r for r in viol if "speaking rate" in r["message"]]
    assert [r["clip_id"] for r in rate] == ["clip_b"]
    assert rate[0]["path"] == ["transcript"]
    # default stays off: no rate violations without the opt-in
    res2 = run_suite(df, with_pcm=False, persist=False)
    assert not [r for r in res2.violations.collect()
                if "speaking rate" in r["message"]]


def test_audio_resample(spark):
    """Linear resample: exact interpolation on a ramp, constant stays
    constant, tone frequency preserved across the rate change, metadata
    updated, undecodable clips pass through untouched."""
    from voluptuous_spark.audio import (
        audio_resample,
        decode_wav_numpy,
        encode_wav_pcm16,
    )

    sr = 16000
    t = np.arange(sr) / sr
    sine = 16384 * np.sin(2 * np.pi * 440 * t)
    ramp = np.array([0, 10, 20], dtype=np.int16)
    const = np.full(1000, 1234, dtype=np.int16)
    rows = [
        ("sine", bytes(encode_wav_pcm16(sine.astype(np.int16), sr)), sr,
         1000, "wav"),
        ("ramp", bytes(encode_wav_pcm16(ramp, 8000)), 8000, 0, "wav"),
        ("const", bytes(encode_wav_pcm16(const, sr)), sr, 62, "wav"),
        ("bad", b"JUNKJUNKJUNK", sr, 100, "wav"),
        ("opus", b"OggS****", 48000, 100, "opus"),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int,"
        " codec string")
    out = {r["clip_id"]: r for r in audio_resample(df, 8000).collect()}

    # const 16k -> 8k: half the samples, same value, sr updated
    s, got_sr = decode_wav_numpy(out["const"]["bytes"])
    assert got_sr == 8000 and out["const"]["sr_hz"] == 8000
    assert s.shape[0] == 500 and np.all(s == 1234)
    assert out["const"]["dur_ms"] == 62  # duration metadata untouched

    # passthroughs keep original bytes and sr
    assert out["bad"]["bytes"] == b"JUNKJUNKJUNK"
    assert out["bad"]["sr_hz"] == sr
    assert out["opus"]["bytes"] == b"OggS****"

    # 2x upsample of [0,10,20] at positions j*0.5 -> exact midpoints
    up = {r["clip_id"]: r
          for r in audio_resample(df, 16000).collect()}
    s2, _ = decode_wav_numpy(up["ramp"]["bytes"])
    assert s2.tolist() == [0, 5, 10, 15, 20, 20]

    # tone survives the rate change at the same absolute frequency
    s3, sr3 = decode_wav_numpy(out["sine"]["bytes"])
    power = np.abs(np.fft.rfft(s3.astype(np.float64))) ** 2
    freqs = np.fft.rfftfreq(s3.shape[0], d=1.0 / sr3)
    assert sr3 == 8000
    assert abs(freqs[1 + int(np.argmax(power[1:]))] - 440) < 20


def test_audio_normalize_gain(spark):
    """Peak/RMS gain normalization: levels land on target within one
    LSB of quantization; silence and undecodable clips pass through."""
    from voluptuous_spark.audio import audio_features, audio_normalize_gain

    sr = 16000
    t = np.arange(sr) / sr
    quiet = 800 * np.sin(2 * np.pi * 440 * t)     # ~ -29 dBFS RMS
    loud = 30000 * np.sin(2 * np.pi * 220 * t)
    silence = np.zeros(sr)
    df = _wav_df(spark, [("quiet", quiet), ("loud", loud),
                         ("silence", silence)], sr)

    peaked = audio_normalize_gain(df, target_dbfs=-1.0, mode="peak")
    f = {r["clip_id"]: r for r in audio_features(peaked).collect()}
    assert abs(f["quiet"]["peak_db"] - (-1.0)) < 0.02
    assert abs(f["loud"]["peak_db"] - (-1.0)) < 0.02
    assert f["silence"]["rms_db"] == -120.0  # untouched

    rmsed = audio_normalize_gain(df, target_dbfs=-20.0, mode="rms")
    f2 = {r["clip_id"]: r for r in audio_features(rmsed).collect()}
    assert abs(f2["quiet"]["rms_db"] - (-20.0)) < 0.02
    assert abs(f2["loud"]["rms_db"] - (-20.0)) < 0.02

    import pytest as _pytest
    with _pytest.raises(ValueError):
        audio_normalize_gain(df, mode="loudness")


def test_cross_rate_near_duplicates(spark):
    """A 16k master and its 8k-derived copy meet as near-duplicates after
    canonicalization (resample to one rate + fixed 300-2000Hz fingerprint
    bands at n_fft=2048); unrelated broadband content stays far."""
    from voluptuous_spark.audio import (
        audio_near_duplicates,
        audio_resample,
        encode_wav_pcm16,
        _resample_linear,
    )

    base = _smooth_noise(11, n=32000)
    low = _resample_linear(base, 16000, 8000)  # the 8k-derived copy
    other = _smooth_noise(12, n=32000)
    rows = [
        ("master", bytes(encode_wav_pcm16(base, 16000)), 16000, 2000,
         "wav", "t"),
        ("derived8k", bytes(encode_wav_pcm16(low, 8000)), 8000, 2000,
         "wav", "t"),
        ("other", bytes(encode_wav_pcm16(other, 16000)), 16000, 2000,
         "wav", "t"),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int,"
        " codec string, transcript string")
    canon = audio_resample(df, 16000)
    kw = dict(f_lo=300.0, f_hi=2000.0, n_fft=2048, hop=1024,
              max_hamming=7, n_lsh_bands=8)
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in audio_near_duplicates(canon, **kw).collect()
    }
    assert ("derived8k", "master") in pairs or ("master", "derived8k") in pairs
    assert not any("other" in p for p in pairs)
    # without canonicalization the native-rate fingerprints differ in
    # frame geometry and the pair is NOT found
    raw = audio_near_duplicates(df, **kw).collect()
    assert not any({r.id_a, r.id_b} == {"master", "derived8k"} for r in raw)


def test_audio_activity_spans_and_trim(spark):
    """Energy-based activity: spans land exactly on 20ms frame
    boundaries of an engineered silence/tone layout; trim cuts leading
    and trailing silence sample-exactly and keeps internal pauses."""
    from voluptuous_spark.audio import (
        _activity_spans_one,
        audio_trim_silence,
        decode_wav_numpy,
        encode_wav_pcm16,
    )

    sr = 16000
    def tone(ms):
        t = np.arange(sr * ms // 1000) / sr
        return (16384 * np.sin(2 * np.pi * 440 * t)).astype(np.int16)
    def sil(ms):
        return np.zeros(sr * ms // 1000, dtype=np.int16)

    # [100ms sil][200ms tone][60ms sil][100ms tone][140ms sil]
    clip = np.concatenate([sil(100), tone(200), sil(60), tone(100),
                           sil(140)])
    rows = [
        ("mix", bytes(encode_wav_pcm16(clip, sr)), sr, 600, "wav", "t"),
        ("allsil", bytes(encode_wav_pcm16(sil(200), sr)), sr, 200,
         "wav", "t"),
        ("bad", b"JUNKJUNKJUNK", sr, 100, "wav", "t"),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int,"
        " codec string, transcript string")

    # spans in samples: 100-300 ms and 360-460 ms at 16 kHz
    assert _activity_spans_one(clip, sr, 20, -50.0) == [
        (1600, 4800), (5760, 7360)]

    out = {r["clip_id"]: r for r in
           audio_trim_silence(df, frame_ms=20).collect()}
    s, got_sr = decode_wav_numpy(out["mix"]["bytes"])
    # exact slice: samples 1600 .. 7360 (100ms..460ms at 16kHz)
    assert got_sr == sr
    assert np.array_equal(s, clip[1600:7360])
    assert out["mix"]["dur_ms"] == 360
    # fully silent -> empty payload, dur 0
    s2, _ = decode_wav_numpy(out["allsil"]["bytes"])
    assert s2.shape[0] == 0 and out["allsil"]["dur_ms"] == 0
    # undecodable passthrough
    assert out["bad"]["bytes"] == b"JUNKJUNKJUNK"
    assert out["bad"]["dur_ms"] == 100


def test_transcript_gates_metadata_only(spark):
    """energy_gates=False works on a raw clips table with no rms_db
    column (rate gates are metadata-only)."""
    from voluptuous_spark.audio import transcript_gate_labels

    df = spark.createDataFrame(
        [("a", 1000, "a plausible short line"), ("b", 1000, "z" * 100)],
        "clip_id string, dur_ms int, transcript string")
    got = {r["clip_id"]: r["g"] for r in df.select(
        "clip_id",
        transcript_gate_labels(max_cps=25.0, min_cps=2.0,
                               energy_gates=False).alias("g"),
    ).collect()}
    assert got == {"a": "pass", "b": "cps_high"}


def test_transform_kernel_properties():
    """Pure-kernel invariants across random broadband signals: same-rate
    resample is identity, trim is idempotent, peak-normalize is
    idempotent within 1 LSB of requantization, spans tile within the
    clip and never overlap."""
    from voluptuous_spark.audio import _activity_spans_one, _resample_linear

    for seed in range(20):
        s = _smooth_noise(seed, n=8000 + 137 * seed)
        # same-rate resample: exact identity
        assert np.array_equal(_resample_linear(s, 16000, 16000), s)
        # round-trip 2x up then down: length restored
        up = _resample_linear(s, 16000, 32000)
        back = _resample_linear(up, 32000, 16000)
        assert back.shape[0] == s.shape[0]

        spans = _activity_spans_one(s, 16000, 20, -50.0)
        for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
            assert a1 < b0  # ordered, non-overlapping, gap between spans
        for (a0, a1) in spans:
            assert 0 <= a0 < a1 <= s.shape[0]
        if spans:
            # trim idempotence: the trimmed slice starts and ends in
            # active frames, so re-trimming keeps every sample
            cut = s[spans[0][0]:spans[-1][1]]
            spans2 = _activity_spans_one(cut, 16000, 20, -50.0)
            assert spans2[0][0] == 0
            assert spans2[-1][1] == cut.shape[0]

        # peak normalize idempotence within 1 LSB
        a = s.astype(np.float64)
        peak = np.abs(a).max()
        if peak == 0:
            continue
        g = 32768.0 * 10 ** (-3.0 / 20.0) / peak
        once = np.clip(np.floor(a * g + 0.5), -32768, 32767)
        p2 = np.abs(once).max()
        g2 = 32768.0 * 10 ** (-3.0 / 20.0) / p2
        twice = np.clip(np.floor(once * g2 + 0.5), -32768, 32767)
        assert np.abs(twice - once).max() <= 1.0


def test_transcript_pii_in_suite(spark):
    """The opt-in transcript PII gate rides the suite's single-scan
    select; PiiInvalid at path ['transcript'], off by default."""
    from voluptuous_spark.suite import run_suite

    sr = 16000
    t = np.arange(sr) / sr
    sine = 16384 * np.sin(2 * np.pi * 440 * t)
    df = _clips_with_transcripts(spark, [
        ("clip_a", sine, "a clean transcript line"),
        ("clip_b", sine, "reach me at leak@example.com today"),
        ("clip_c", sine, "my ssn is 123-45-6789"),
    ])
    res = run_suite(df, with_pcm=False, persist=False, transcript_pii=True)
    pii_rows = {r["clip_id"]: r for r in res.violations.collect()
                if r["error_type"] == "PiiInvalid"}
    assert set(pii_rows) == {"clip_b", "clip_c"}
    assert pii_rows["clip_b"]["message"] == "transcript contains PII (email)"
    assert pii_rows["clip_c"]["message"] == "transcript contains PII (ssn)"
    assert pii_rows["clip_b"]["path"] == ["transcript"]
    # kind-restricted: only email checked
    res2 = run_suite(df, with_pcm=False, persist=False,
                     transcript_pii=["email"])
    assert [r["clip_id"] for r in res2.violations.collect()
            if r["error_type"] == "PiiInvalid"] == ["clip_b"]
    # default stays off
    res3 = run_suite(df, with_pcm=False, persist=False)
    assert not [r for r in res3.violations.collect()
                if r["error_type"] == "PiiInvalid"]
