"""Audio (WAV/PCM16) content validators over binary clip columns.

North-star requirement (BASELINE.json input_hint): per-row invariant =
decoded-PCM allclose (SNR >= 30 dB) against a reference decode + transcript
equality, over ``clips(clip_id, bytes, sr_hz, dur_ms, codec, transcript)``.

No audio codec libraries exist in this environment (and none are needed
for PCM WAV): decoding is a RIFF header parse + int16 reinterpret, done
here twice through independent code paths — a numpy vectorized parser and
the stdlib ``wave`` module — and cross-checked sample-exactly with an SNR
floor, which is exactly the "decode vs reference decode" invariant. Real
compressed codecs (flac/opus/mp3) would slot into ``_decode_reference``
behind the same interface; in this sandbox they're structurally validated
only (header magic + declared-length consistency).

Execution model: the PCM verdict has one JVM path, ``pcm_check_expr`` (a
Column of header arithmetic, no payload crosses into Python), and one
reference path, ``with_pcm_check`` (a ``mapInArrow`` pass running both
decoders in numpy over zero-copy Arrow buffers). The signal-feature,
fingerprint and segment passes use the same ``mapInArrow`` shape. Batch
size is bounded by spark.sql.execution.arrow.maxRecordsPerBatch
(session.py) so binary payload batches fit executor memory.
"""

from __future__ import annotations

import io
import struct
import wave

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .session import session_memo

SNR_FLOOR_DB = 30.0


# ---------------------------------------------------------------------------
# encode / decode primitives (numpy + stdlib only; pure functions)


def encode_wav_pcm16(samples: np.ndarray, sr_hz: int) -> bytes:
    """Minimal RIFF/WAVE PCM16 mono encoder (stdlib struct; no deps)."""
    data = samples.astype("<i2").tobytes()
    byte_rate = sr_hz * 2
    return b"".join(
        [
            b"RIFF",
            struct.pack("<I", 36 + len(data)),
            b"WAVEfmt ",
            struct.pack("<IHHIIHH", 16, 1, 1, sr_hz, byte_rate, 2, 16),
            b"data",
            struct.pack("<I", len(data)),
            data,
        ]
    )


def _parse_wav_fixed(buf) -> tuple[int, int, int]:
    """Primary parser: fixed canonical RIFF layout (fmt at 12, data at 36)
    -> (sr, data_offset, data_len). Header-only: touches 44 bytes, never
    the sample payload. Raises ValueError on malformed input."""
    if buf is None or len(buf) < 44:
        raise ValueError("truncated header")
    if buf[0:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("bad RIFF magic")
    if buf[12:16] != b"fmt ":
        raise ValueError("missing fmt chunk")
    fmt_size, audio_fmt, n_ch, sr, _br, _ba, bits = struct.unpack(
        "<IHHIIHH", buf[16:36]
    )
    if audio_fmt != 1 or bits != 16 or n_ch != 1:
        raise ValueError("unsupported encoding")
    if buf[36:40] != b"data":
        raise ValueError("missing data chunk")
    (data_len,) = struct.unpack("<I", buf[40:44])
    if len(buf) - 44 < data_len:
        raise ValueError("truncated payload")
    return int(sr), 44, data_len


def decode_wav_numpy(buf):
    """Primary decoder: manual RIFF parse -> (samples int16 ndarray, sr).
    Accepts any bytes-like (bytes / memoryview over an Arrow buffer) and is
    fully zero-copy: header fields via struct.unpack on slices, samples via
    np.frombuffer on the payload view. Raises ValueError on malformed
    input."""
    sr, off, data_len = _parse_wav_fixed(buf)
    return np.frombuffer(buf[off:off + data_len], dtype="<i2"), sr


def decode_wav_reference(buf: bytes):
    """Reference decoder: stdlib ``wave`` module (independent code path)."""
    with wave.open(io.BytesIO(buf), "rb") as w:
        if w.getsampwidth() != 2 or w.getnchannels() != 1:
            raise ValueError("unsupported encoding")
        frames = w.readframes(w.getnframes())
        return np.frombuffer(frames, dtype="<i2"), w.getframerate()


def _walk_riff(mv) -> tuple[int, int, int]:
    """Independent reference parser: a generic RIFF chunk-list walker
    (no fixed offsets — handles reordered/extra chunks the fixed-layout
    ``decode_wav_numpy`` rejects). Returns (sr, data_offset, data_len)
    or raises ValueError.

    This is the second decode path of the dual-decoder invariant. Both
    decoders are zero-copy views over the SAME buffer, so when they agree
    on (sr, data_offset, data_len) the two sample arrays are byte-identical
    *by construction* — equality (SNR = inf) holds with no sample-data
    traffic at all. Only on disagreement do we materialize both decodes
    and compute a numeric SNR. This removes the last per-sample DRAM pass
    from the hot path (previously a chunked memcmp): per-clip traffic is
    now just the scan/Arrow transport, which is what lets throughput keep
    scaling when many executor threads share one memory bus.
    """
    n = len(mv)
    if n < 12 or mv[0:4] != b"RIFF" or mv[8:12] != b"WAVE":
        raise ValueError("bad RIFF magic")
    pos, sr, bits, n_ch, audio_fmt = 12, None, None, None, None
    data_off = data_len = None
    while pos + 8 <= n:
        cid = bytes(mv[pos:pos + 4])
        (clen,) = struct.unpack("<I", mv[pos + 4:pos + 8])
        body = pos + 8
        if cid == b"fmt ":
            if body + 16 > n:
                raise ValueError("truncated fmt chunk")
            audio_fmt, n_ch, sr = struct.unpack("<HHI", mv[body:body + 8])
            (bits,) = struct.unpack("<H", mv[body + 14:body + 16])
        elif cid == b"data" and data_off is None:
            # first data chunk wins (matches stdlib wave)
            data_off, data_len = body, clen
        # chunks are word-aligned: odd sizes carry a pad byte
        pos = body + clen + (clen & 1)
    if sr is None:
        raise ValueError("missing fmt chunk")
    if audio_fmt != 1 or bits != 16 or n_ch != 1:
        raise ValueError("unsupported encoding")
    if data_off is None:
        raise ValueError("missing data chunk")
    if data_off + data_len > n:
        raise ValueError("truncated payload")
    return int(sr), data_off, data_len


def snr_db(signal: np.ndarray, noise_ref: np.ndarray) -> float:
    """10*log10(P_signal / P_diff); inf when identical.

    float32 dot products: one streaming pass per term, half the memory
    traffic of the naive float64 sum((a-b)**2) form — the SNR math is the
    per-clip hot loop and must stay cache-resident to scale across cores.
    """
    if signal.shape != noise_ref.shape:
        return float("-inf")
    a = signal.astype(np.float32)
    d = a - noise_ref.astype(np.float32)
    p_sig = float(np.dot(a, a))
    p_err = float(np.dot(d, d))
    if p_err == 0.0:
        return float("inf")
    if p_sig == 0.0:
        return float("-inf")
    return 10.0 * np.log10(p_sig / p_err)


def _check_one(buf, sr_hz, dur_ms, codec) -> str | None:
    """Validate one clip; returns error message or None. Pure function.

    ``buf`` may be ``bytes`` or any zero-copy bytes-like (memoryview over an
    Arrow buffer). The hot path is copy-frugal on purpose: with 32 worker
    processes each streaming ~100KB clips, aggregate DRAM traffic — not
    CPU — is what caps scaling on a shared memory bus, so every avoided
    copy buys both throughput and N->4N efficiency.
    """
    if buf is None:
        return "required key not provided"
    if codec is not None and codec != "wav":
        # compressed codecs: structural check only in this sandbox
        return None if len(buf) >= 4 else "truncated payload"
    mv = memoryview(buf)
    try:
        sr1, off1, len1 = _parse_wav_fixed(mv)
    except ValueError as e:
        return f"PCM decode failed: {e}"
    # Reference decode: the independent generic chunk walker. Both parsers
    # are zero-copy views of the same buffer, so agreement on
    # (sr, offset, length) == byte-identical sample arrays == SNR inf,
    # with ZERO sample-data DRAM traffic (header bytes only). Disagreement
    # (non-canonical layout one parser mis-handles) falls through to the
    # full dual decode — stdlib ``wave`` as the arbiter — and a numeric
    # SNR against the 30dB floor.
    try:
        sr2, off2, len2 = _walk_riff(mv)
    except ValueError as e:
        return f"reference decode failed: {e}"
    if sr1 != sr2:
        return "decoder sample-rate mismatch"
    n_samples = len1 // 2
    if (off1, len1) != (off2, len2):
        try:
            s1 = np.frombuffer(mv[off1:off1 + len1], dtype="<i2")
            s2, _ = decode_wav_reference(bytes(mv))
        except Exception as e:
            return f"reference decode failed: {e}"
        d = snr_db(s1, s2)
        if not (d >= SNR_FLOOR_DB):
            return f"PCM mismatch vs reference decode (SNR {d:.1f}dB < 30dB)"
        n_samples = s1.shape[0]
    if sr_hz is not None and int(sr_hz) != sr1:
        return f"header sample rate {sr1} != sr_hz {int(sr_hz)}"
    if dur_ms is not None and sr1 > 0:
        actual_ms = round(n_samples * 1000.0 / sr1)
        if abs(actual_ms - int(dur_ms)) > 1:
            return f"duration mismatch: payload {actual_ms}ms != dur_ms {int(dur_ms)}ms"
    return None


PCM_ERR_COL = "__pcm_err"


def _le_uint(col: Column, pos: int, nbytes: int) -> Column:
    """Little-endian unsigned int from ``nbytes`` at 1-based ``pos`` of a
    binary column, as a JVM expression: hex the slice (big-endian pair
    order as stored), reverse the byte pairs, base-16 parse. Runs inside
    whole-stage codegen on 4/8-char strings — negligible next to the
    scan."""
    h = F.hex(F.substring(col, pos, nbytes))
    pairs = [F.substring(h, 2 * i + 1, 2) for i in reversed(range(nbytes))]
    return F.conv(F.concat(*pairs), 16, 10).cast("long")


def pcm_check_expr(
    bytes_col: str = "bytes",
    sr_col: str = "sr_hz",
    dur_col: str = "dur_ms",
    codec_col: str = "codec",
) -> Column:
    """Pure-JVM PCM validation Column (NULL = valid) — the 10^12-row path.

    Replicates ``_check_one`` exactly (same verdicts, same message
    strings; differentially tested in tests/test_audio.py) without the
    audio payload ever crossing the JVM->Python boundary. Rationale: for
    canonical PCM WAV both decoders of the dual-decode invariant are
    zero-copy views of the same buffer, so "decoded PCM allclose against
    reference decode" reduces *by construction* to both parsers agreeing
    on (sr, data offset, data length) plus payload-length consistency —
    all header arithmetic a Column expression evaluates in-place during
    the scan. The mapInArrow form (``with_pcm_check``) computes the same
    verdict through two real decoders and remains the path for
    non-canonical layouts and future compressed codecs; here it is the
    differential oracle. Eliminating the per-clip Arrow IPC (~4 extra
    DRAM passes per payload on a shared memory bus) is what preserves
    N->4N throughput scaling when all executors of a node contend on one
    socket.

    Built once per active session and argument tuple, and the same
    Column is returned after that. Its binary literals print as a new
    ``[B@...`` on every build, so a fresh tree would miss the
    ``Schema.validate`` memo, whose key holds ``repr`` of each extra
    check.
    """
    return session_memo(
        SparkSession.active(),
        ("pcm_check_expr", bytes_col, sr_col, dur_col, codec_col),
        lambda: _pcm_check_expr(bytes_col, sr_col, dur_col, codec_col),
    )


def _pcm_check_expr(bytes_col, sr_col, dur_col, codec_col) -> Column:
    b = F.col(bytes_col)
    sr_c, dur_c, codec_c = F.col(sr_col), F.col(dur_col), F.col(codec_col)
    blen = F.length(b)

    def _fail(detail):
        return F.lit(f"PCM decode failed: {detail}")

    audio_fmt = _le_uint(b, 21, 2)
    n_ch = _le_uint(b, 23, 2)
    sr = _le_uint(b, 25, 4)
    bits = _le_uint(b, 35, 2)
    data_len = _le_uint(b, 41, 4)
    n_samples = F.floor(data_len / 2)
    actual_ms = F.round(n_samples * 1000.0 / sr).cast("long")

    wav_err = (
        F.when(blen < 44, _fail("truncated header"))
        .when(
            (F.substring(b, 1, 4) != F.lit(b"RIFF"))
            | (F.substring(b, 9, 4) != F.lit(b"WAVE")),
            _fail("bad RIFF magic"),
        )
        .when(F.substring(b, 13, 4) != F.lit(b"fmt "), _fail("missing fmt chunk"))
        .when(
            (audio_fmt != 1) | (bits != 16) | (n_ch != 1),
            _fail("unsupported encoding"),
        )
        .when(F.substring(b, 37, 4) != F.lit(b"data"), _fail("missing data chunk"))
        .when(blen - 44 < data_len, _fail("truncated payload"))
        .when(
            sr_c.isNotNull() & (sr_c.cast("long") != sr),
            F.format_string(
                "header sample rate %s != sr_hz %s",
                sr.cast("string"), sr_c.cast("long").cast("string"),
            ),
        )
        .when(
            dur_c.isNotNull() & (sr > 0)
            & (F.abs(actual_ms - dur_c.cast("long")) > 1),
            F.format_string(
                "duration mismatch: payload %sms != dur_ms %sms",
                actual_ms.cast("string"), dur_c.cast("long").cast("string"),
            ),
        )
    )
    return (
        F.when(b.isNull(), F.lit("required key not provided"))
        .when(
            codec_c.isNotNull() & (codec_c != "wav"),
            F.when(blen >= 4, F.lit(None)).otherwise(F.lit("truncated payload")),
        )
        .otherwise(wav_err)
    )


def with_pcm_check(
    df: DataFrame,
    bytes_col: str = "bytes",
    sr_col: str = "sr_hz",
    dur_col: str = "dur_ms",
    codec_col: str = "codec",
    drop_bytes: bool = True,
) -> DataFrame:
    """Arrow-batch PCM validation via ``mapInArrow``: every input column
    passes through (minus ``bytes`` when ``drop_bytes``) plus a
    ``__pcm_err`` string column (NULL = valid).

    This is the scale path: the audio payload crosses the JVM->Python
    boundary ONCE as raw Arrow buffers (no per-value JVM ArrowWriter
    copies, no pandas Series of bytes), is decoded with numpy in the
    worker, and is dropped from the output batch — downstream plans never
    carry the heavy column again.
    """
    import pyarrow as pa

    in_fields = [f for f in df.schema.fields]
    out_fields = [
        f for f in in_fields if not (drop_bytes and f.name == bytes_col)
    ]
    out_schema_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields
    ) + f", `{PCM_ERR_COL}` string"
    keep_names = [f.name for f in out_fields]

    def gen(batches):
        for batch in batches:
            def col(n):
                return batch.column(batch.schema.get_field_index(n))

            # bytes stay in the Arrow buffer: per-row zero-copy views
            # (scalar.as_buffer()), never materialized as Python bytes.
            # The narrow columns are cheap to_pylist; the audio payload is
            # ~99% of the batch and crosses into numpy with no copy.
            bcol = col(bytes_col)
            sr = col(sr_col).to_pylist()
            dur = col(dur_col).to_pylist()
            codec = col(codec_col).to_pylist()
            errs = []
            for i in range(batch.num_rows):
                s = bcol[i]
                errs.append(
                    _check_one(
                        s.as_buffer() if s.is_valid else None,
                        None if sr[i] is None else int(sr[i]),
                        None if dur[i] is None else int(dur[i]),
                        codec[i],
                    )
                )
            cols = [
                batch.column(batch.schema.get_field_index(n))
                for n in keep_names
            ]
            yield pa.RecordBatch.from_arrays(
                cols + [pa.array(errs, type=pa.string())],
                names=keep_names + [PCM_ERR_COL],
            )

    return df.mapInArrow(gen, out_schema_ddl)


# ---------------------------------------------------------------------------
# per-clip signal features + quality gates (training-data tier)
#
# The reference has no audio notion at all — these are the table-scale
# additions a validation tier for AUDIO training data needs beyond "does it
# decode": silence, clipping, DC offset, and activity-rate gates, the checks
# that catch recording-chain defects (dead mics, hot gain staging, decoupled
# preamps) that decode fine but poison a training corpus.

AUDIO_FEATURE_COLS = (
    "n_samples", "rms_db", "peak_db", "clipping_ratio", "dc_offset", "zcr"
)

# digital silence clamp: 16-bit quantization noise floor is ~-96 dBFS, so
# -120 is strictly below any representable signal
_SILENCE_DB = -120.0


def _features_one(buf, codec):
    """Signal features for one clip -> tuple per AUDIO_FEATURE_COLS, or
    all-None when the payload is absent/undecodable/non-PCM (the decode
    errors themselves are with_pcm_check/pcm_check_expr's job).

    Single float64 working copy of the samples; every statistic is a
    numpy reduction over it (no per-sample Python). float64 keeps the
    sum-of-squares EXACT (integer partial sums < 2^53 for clips up to
    ~8M samples), so the dBFS/ratio outputs are pure closed forms of the
    integer sample values — reproducible bit-for-bit by an external SQL
    oracle, and invariant to summation order across batch splits."""
    if buf is None or (codec is not None and codec != "wav"):
        return (None,) * len(AUDIO_FEATURE_COLS)
    try:
        s, _sr = decode_wav_numpy(memoryview(buf))
    except ValueError:
        return (None,) * len(AUDIO_FEATURE_COLS)
    n = int(s.shape[0])
    if n == 0:
        return (0, _SILENCE_DB, _SILENCE_DB, 0.0, 0.0, 0.0)
    a = s.astype(np.float64)
    power = float(np.dot(a, a)) / n
    rms = np.sqrt(power) / 32768.0
    rms_db = max(20.0 * np.log10(rms), _SILENCE_DB) if rms > 0 else _SILENCE_DB
    peak = float(np.max(np.abs(a))) / 32768.0
    peak_db = max(20.0 * np.log10(peak), _SILENCE_DB) if peak > 0 else _SILENCE_DB
    # |.| over the float64 copy, NOT the int16 view: np.abs(int16 -32768)
    # wraps to -32768, silently missing every full-scale negative sample
    clipping = float(np.count_nonzero(np.abs(a) >= 32767)) / n
    dc = float(np.mean(a)) / 32768.0
    neg = np.signbit(a)
    zcr = (
        float(np.count_nonzero(neg[1:] != neg[:-1])) / (n - 1)
        if n > 1 else 0.0
    )
    return (n, float(rms_db), float(peak_db), clipping, dc, zcr)


def audio_features(
    df: DataFrame,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    drop_bytes: bool = True,
) -> DataFrame:
    """Per-clip signal features via ``mapInArrow`` — same zero-copy shape
    as ``with_pcm_check``: the audio payload crosses the JVM->Python
    boundary once as raw Arrow buffers, is reduced to six narrow feature
    columns in the worker, and is dropped from the output batch so no
    downstream plan carries it again.

    Appends: n_samples long, rms_db / peak_db (dBFS, clamped at -120 for
    digital silence), clipping_ratio (|s| at full scale), dc_offset
    (mean/32768), zcr (zero-crossing rate). NULL features = payload
    absent, undecodable, or non-PCM codec.
    """
    import pyarrow as pa

    out_fields = [
        f for f in df.schema.fields if not (drop_bytes and f.name == bytes_col)
    ]
    keep_names = [f.name for f in out_fields]
    out_schema_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields
    ) + (", `n_samples` long, `rms_db` double, `peak_db` double,"
         " `clipping_ratio` double, `dc_offset` double, `zcr` double")

    def gen(batches):
        for batch in batches:
            bcol = batch.column(batch.schema.get_field_index(bytes_col))
            codec = batch.column(
                batch.schema.get_field_index(codec_col)
            ).to_pylist()
            feats = []
            for i in range(batch.num_rows):
                sc = bcol[i]
                feats.append(_features_one(
                    sc.as_buffer() if sc.is_valid else None, codec[i]
                ))
            cols = [
                batch.column(batch.schema.get_field_index(n))
                for n in keep_names
            ]
            ftypes = [pa.int64()] + [pa.float64()] * 5
            yield pa.RecordBatch.from_arrays(
                cols + [
                    pa.array([f[j] for f in feats], type=ftypes[j])
                    for j in range(len(AUDIO_FEATURE_COLS))
                ],
                names=keep_names + list(AUDIO_FEATURE_COLS),
            )

    return df.mapInArrow(gen, out_schema_ddl)


def _gate_conditions(
    min_rms_db: float = -60.0,
    max_clipping_ratio: float = 0.01,
    max_dc_offset: float = 0.02,
    min_zcr: float = 0.0,
) -> list:
    """(gate_name, fail_condition) per signal quality gate — the
    thresholds behind ``audio_gate_labels``."""
    return [
        ("rms_db", F.col("rms_db") < min_rms_db),
        ("clipping_ratio", F.col("clipping_ratio") > max_clipping_ratio),
        ("dc_offset", F.abs("dc_offset") > max_dc_offset),
        ("zcr", (F.col("zcr") < min_zcr) & (F.col("n_samples") > 1)),
    ]


def audio_gate_labels(**thresholds) -> Column:
    """Sorted comma-joined failed gate names as ONE Column expression over
    an ``audio_features`` row ('pass' when clean, NULL when the features
    are NULL) — the join-free single-pass shape: at 10^12 rows the gates
    evaluate inside the same codegen stage as the feature projection
    instead of re-scanning or shuffling the feature table."""
    parts = [
        F.when(cond, F.lit(name))
        for name, cond in sorted(_gate_conditions(**thresholds))
    ]
    joined = F.concat_ws(",", *parts)
    return F.when(
        F.col("rms_db").isNull(), F.lit(None).cast("string")
    ).otherwise(
        F.when(joined == "", F.lit("pass")).otherwise(joined)
    )


# ---------------------------------------------------------------------------
# joint audio <-> transcript consistency gates (the graft's A+B axes).
#
# The north star pairs every audio clip with its transcript; beyond
# per-side checks (PCM invariant, transcript Match) a curation pipeline
# needs JOINT plausibility gates tying the two modalities together:
# transcript length must be speakable within the clip's duration
# (characters-per-second bounds), and the audio's measured energy must be
# consistent with the transcript's existence (silent audio with a
# transcript / active audio with no transcript are both labeling defects).
# All gates are pure Column expressions over columns already in the row —
# zero joins, zero shuffles, same codegen stage as the feature projection
# — so at 10^12 rows they are free riders on the feature scan.


def transcript_gate_conditions(
    max_cps: float = 25.0,
    min_cps: float = 1.0,
    silent_rms_db: float = -60.0,
    transcript_col: str = "transcript",
    dur_col: str = "dur_ms",
    energy_gates: bool = True,
) -> list:
    """(gate_name, fail_condition) per joint gate — the thresholds
    behind ``transcript_gate_labels``.

    Rate gates (``cps_high`` / ``cps_low`` / ``transcript_empty``) read
    only metadata columns and apply to every row; the energy gates
    (``silent_transcribed`` / ``active_empty``) additionally require an
    ``audio_features`` row (``rms_db``) and skip rows whose features are
    NULL (payload absent / undecodable / non-PCM). Pass
    ``energy_gates=False`` on a raw clips table that has no ``rms_db``
    column — referencing it there would fail analysis."""
    tlen = F.length(F.trim(F.coalesce(F.col(transcript_col), F.lit(""))))
    dur = F.col(dur_col)
    # multiply-then-divide, both engines, so the float64 result is
    # bit-identical between Spark and an external SQL oracle
    cps = (tlen * F.lit(1000.0)) / dur
    gates = [
        ("cps_high", (tlen > 0) & (dur > 0) & (cps > max_cps)),
        ("cps_low", (tlen > 0) & (dur > 0) & (cps < min_cps)),
        ("transcript_empty", tlen == 0),
    ]
    if energy_gates:
        has_rms = F.col("rms_db").isNotNull()
        gates += [
            ("active_empty",
             has_rms & (F.col("rms_db") > silent_rms_db) & (tlen == 0)),
            ("silent_transcribed",
             has_rms & (F.col("rms_db") <= silent_rms_db) & (tlen > 0)),
        ]
    return gates


def transcript_gate_labels(**thresholds) -> Column:
    """Sorted comma-joined failed joint-gate names as ONE Column
    expression ('pass' when clean) — the join-free shape of
    ``audio_gate_labels``. Unlike the signal gates this never returns
    NULL: the rate gates are metadata-only, so rows without decodable
    audio still get rate verdicts (the energy gates self-disable on NULL
    ``rms_db``)."""
    parts = [
        F.when(cond, F.lit(name))
        for name, cond in sorted(transcript_gate_conditions(**thresholds))
    ]
    joined = F.concat_ws(",", *parts)
    return F.when(joined == "", F.lit("pass")).otherwise(joined)


def transcript_rate_check_expr(
    max_cps: float = 25.0,
    min_cps: float = 1.0,
    transcript_col: str = "transcript",
    dur_col: str = "dur_ms",
) -> Column:
    """Metadata-only rate gate as a message Column (NULL = valid) in the
    ``Schema.validate(extra_checks=...)`` contract — lets the flagship
    suite stamp speaking-rate violations inside the same single-scan
    select as the row schema and the PCM check."""
    tlen = F.length(F.trim(F.coalesce(F.col(transcript_col), F.lit(""))))
    dur = F.col(dur_col)
    cps = (tlen * F.lit(1000.0)) / dur
    return (
        F.when(
            (tlen > 0) & (dur > 0) & (cps > max_cps),
            F.format_string(
                "transcript rate %s chars/sec above plausible "
                "speaking rate %s",
                F.round(cps, 1).cast("string"), F.lit(str(max_cps)),
            ),
        )
        .when(
            (tlen > 0) & (dur > 0) & (cps < min_cps),
            F.format_string(
                "transcript rate %s chars/sec below plausible "
                "speaking rate %s",
                F.round(cps, 1).cast("string"), F.lit(str(min_cps)),
            ),
        )
        .otherwise(F.lit(None).cast(StringType()))
    )


# ---------------------------------------------------------------------------
# audio deduplication: exact (content signature) + near-dup (spectral
# fingerprint LSH) — the audio counterpart of textops' exact-md5 /
# MinHash-LSH dedup pipeline (training-data curation tier)

# exact integer content statistics of the DECODED samples: two clips share
# a signature iff their PCM content matches on (length, sum, energy, peak,
# endpoints) — container/header differences (codec tag, metadata) do not
# break equality, unlike hashing the raw bytes. Every field is an int64
# closed form of the sample values (sum_sq < 2^53 for clips up to ~1.5h),
# so an external SQL oracle regenerates it exactly.
AUDIO_SIGNATURE_COLS = (
    "sig_n", "sig_sum", "sig_sumsq", "sig_maxabs", "sig_first", "sig_last",
)


def _signature_one(buf, codec):
    if buf is None or (codec is not None and codec != "wav"):
        return (None,) * len(AUDIO_SIGNATURE_COLS)
    try:
        s, _sr = decode_wav_numpy(memoryview(buf))
    except ValueError:
        return (None,) * len(AUDIO_SIGNATURE_COLS)
    n = int(s.shape[0])
    if n == 0:
        return (0, 0, 0, 0, 0, 0)
    a = s.astype(np.int64)
    return (
        n, int(a.sum()), int(np.dot(a, a)), int(np.abs(a).max()),
        int(a[0]), int(a[-1]),
    )


def audio_content_signature(
    df: DataFrame,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    drop_bytes: bool = True,
) -> DataFrame:
    """Append the exact content signature columns via ``mapInArrow`` —
    same zero-copy shape as ``audio_features``: the payload crosses the
    JVM->Python boundary once and is dropped from the output batch. NULL
    signature = payload absent, undecodable, or non-PCM codec."""
    import pyarrow as pa

    out_fields = [
        f for f in df.schema.fields if not (drop_bytes and f.name == bytes_col)
    ]
    keep_names = [f.name for f in out_fields]
    out_schema_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields
    ) + "".join(f", `{c}` long" for c in AUDIO_SIGNATURE_COLS)

    def gen(batches):
        for batch in batches:
            bcol = batch.column(batch.schema.get_field_index(bytes_col))
            codec = batch.column(
                batch.schema.get_field_index(codec_col)
            ).to_pylist()
            sigs = [
                _signature_one(
                    bcol[i].as_buffer() if bcol[i].is_valid else None,
                    codec[i],
                )
                for i in range(batch.num_rows)
            ]
            cols = [
                batch.column(batch.schema.get_field_index(n))
                for n in keep_names
            ]
            yield pa.RecordBatch.from_arrays(
                cols + [
                    pa.array([s[j] for s in sigs], type=pa.int64())
                    for j in range(len(AUDIO_SIGNATURE_COLS))
                ],
                names=keep_names + list(AUDIO_SIGNATURE_COLS),
            )

    return df.mapInArrow(gen, out_schema_ddl)


def audio_exact_duplicates(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
) -> DataFrame:
    """Content-defined exact dedup: one row per NON-canonical member of a
    duplicate group ``(clip_id, canonical_id, group_size)``; canonical =
    min clip_id. ONE shuffle on the 6-int64 signature key (window
    partitionBy — no join, no second scan); clips without a decodable
    payload never group. At 10^12 rows the shuffle carries only
    (id, 48 bytes of signature) per row — the payload never moves."""
    from pyspark.sql import Window

    sig = audio_content_signature(df, bytes_col, codec_col).filter(
        F.col("sig_n").isNotNull()
    )
    w = Window.partitionBy(*AUDIO_SIGNATURE_COLS)
    return (
        sig.select(id_col, *AUDIO_SIGNATURE_COLS)
        .withColumn("group_size", F.count("*").over(w))
        .withColumn("canonical_id", F.min(id_col).over(w))
        .filter((F.col("group_size") > 1)
                & (F.col(id_col) != F.col("canonical_id")))
        .select(id_col, "canonical_id", "group_size")
    )


def _fingerprint_one(buf, codec, n_fft=256, hop=128, n_bands=64,
                     f_lo=100.0, f_hi=None):
    """64-bit spectral fingerprint of one clip, Haitsma-Kalker bits
    majority-voted across frames: per frame t and band b the sub-bit is
    ``sign((E[b,t]-E[b+1,t]) - (E[b,t-1]-E[b+1,t-1]))`` — the
    TIME-frequency difference, so the fingerprint encodes the content's
    temporal spectral structure, not just its envelope (two different
    noises with the same spectral shape get ~independent bits). Bit b of
    the clip fingerprint is the majority of its sub-bits. Differences are
    homogeneous in signal scale, so gain changes preserve the fingerprint
    exactly; small additive noise flips only near-tie sub-bits, which the
    majority vote absorbs. Bands are geometrically spaced between f_lo
    and f_hi (default 0.45*sr — full-bandwidth fingerprint). For corpora
    mixing recording rates, pass a FIXED absolute range inside the lowest
    Nyquist (the published Haitsma-Kalker setup is 300-2000Hz): bands
    pinned to absolute frequencies ignore the dead spectrum above a
    band-limited clip's original Nyquist, so a clip and its resampled
    copy fingerprint alike."""
    if buf is None or (codec is not None and codec != "wav"):
        return None
    try:
        s, sr = decode_wav_numpy(memoryview(buf))
    except ValueError:
        return None
    n = int(s.shape[0])
    if n == 0 or sr <= 0:
        return 0
    a = s.astype(np.float64)
    if n < 2 * n_fft:  # need >=2 frames for a time difference
        a = np.pad(a, (0, 2 * n_fft - n))
        n = 2 * n_fft
    n_frames = 1 + (n - n_fft) // hop
    idx = (np.arange(n_fft)[None, :]
           + hop * np.arange(n_frames)[:, None])
    frames = a[idx] * np.hanning(n_fft)[None, :]
    power = np.abs(np.fft.rfft(frames, axis=1)) ** 2
    if f_hi is None:
        f_hi = 0.45 * sr
    edges = np.geomspace(max(f_lo, 1.0), max(f_hi, f_lo * 2.0),
                         n_bands + 2)
    bins = np.clip(
        np.round(edges / (sr / n_fft)).astype(np.int64), 0, n_fft // 2
    )
    cum = np.concatenate(
        (np.zeros((n_frames, 1)), np.cumsum(power, axis=1)), axis=1
    )
    # e[t, b]: energy of band b in frame t (cumsum-sliced; empty bands 0)
    e = (cum[:, np.minimum(bins[1:] + 1, n_fft // 2 + 1)]
         - cum[:, bins[:-1]])
    band_diff = e[:, :-1] - e[:, 1:]            # E[b]-E[b+1] per frame
    d = band_diff[1:] - band_diff[:-1]          # minus previous frame's
    votes = (d > 0).sum(axis=0)
    bits = (votes * 2 > d.shape[0]).astype(np.uint64)
    fp = 0
    for b in range(n_bands):
        fp |= int(bits[b]) << b
    return fp  # raw n_bands-bit int; callers split/wrap into words


def _wrap64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _fp_words(fp, n_words: int) -> list:
    """Split a raw fingerprint int into ``n_words`` signed 64-bit words,
    LOW word first (word i holds bits [64*i, 64*(i+1)))."""
    if fp is None:
        return [None] * n_words
    return [_wrap64((fp >> (64 * i)) & ((1 << 64) - 1))
            for i in range(n_words)]


def audio_fingerprints(
    df: DataFrame,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    drop_bytes: bool = True,
    n_fft: int = 256,
    hop: int = 128,
    f_lo: float = 100.0,
    f_hi: float | None = None,
    n_bits: int = 64,
) -> DataFrame:
    """Append ``afp`` (64-bit spectral fingerprint, long; NULL = payload
    absent/undecodable/non-PCM) in one zero-copy ``mapInArrow`` pass.
    O(n log n_fft) per clip, embarrassingly parallel, payload dropped.
    ``f_lo``/``f_hi`` pin the band range to absolute frequencies
    (default: 0.45*sr) — fix them (e.g. 300/2000Hz) when the corpus
    mixes recording rates so resampled copies fingerprint alike.

    ``n_bits``: fingerprint width in 64-bit multiples. 64 (default,
    frozen-oracle compatible) emits ``afp``; 128 additionally emits
    ``afp_hi`` (bits 64-127 from 128 spectral sub-bands — pair with
    n_fft >= 512 so the FFT resolves the narrower bands). The wide
    fingerprint exists for CORPUS SCALE: banded LSH over a 64-bit code
    caps the per-band bucket space at 2^16 (4 bands), so bucket
    population — and candidate pairs — grow linearly with N past ~10^7
    clips; 32-bit bands from a 128-bit code give 2^32 buckets, keeping
    buckets ~constant out to 10^12 while pigeonhole recall for
    hamming <= n_bands-1 is unchanged."""
    import pyarrow as pa

    if n_bits % 64:
        raise ValueError("n_bits must be a multiple of 64")
    n_words = n_bits // 64
    word_names = ["afp"] + [f"afp_hi{i if i > 1 else ''}"
                            for i in range(1, n_words)]
    out_fields = [
        f for f in df.schema.fields if not (drop_bytes and f.name == bytes_col)
    ]
    keep_names = [f.name for f in out_fields]
    out_schema_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields
    ) + "".join(f", `{w}` long" for w in word_names)

    def gen(batches):
        for batch in batches:
            bcol = batch.column(batch.schema.get_field_index(bytes_col))
            codec = batch.column(
                batch.schema.get_field_index(codec_col)
            ).to_pylist()
            fps = [
                _fp_words(
                    _fingerprint_one(
                        bcol[i].as_buffer() if bcol[i].is_valid else None,
                        codec[i], n_fft=n_fft, hop=hop, n_bands=n_bits,
                        f_lo=f_lo, f_hi=f_hi,
                    ),
                    n_words,
                )
                for i in range(batch.num_rows)
            ]
            cols = [
                batch.column(batch.schema.get_field_index(n))
                for n in keep_names
            ]
            yield pa.RecordBatch.from_arrays(
                cols + [
                    pa.array([w[i] for w in fps], type=pa.int64())
                    for i in range(n_words)
                ],
                names=keep_names + word_names,
            )

    return df.mapInArrow(gen, out_schema_ddl)


def audio_near_duplicates(
    df: DataFrame,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    max_hamming: int = 3,
    n_lsh_bands: int = 4,
    fingerprints: DataFrame | None = None,
    n_fft: int = 256,
    hop: int = 128,
    f_lo: float = 100.0,
    f_hi: float | None = None,
    fp_bits: int = 64,
) -> DataFrame:
    """Near-duplicate audio pairs ``(id_a, id_b, hamming)`` via banded LSH
    over the 64-bit spectral fingerprint: the fingerprint splits into
    ``n_lsh_bands`` disjoint bit bands; by pigeonhole, any pair within
    hamming distance ``n_lsh_bands - 1`` shares at least one EXACT band,
    so recall is total for ``max_hamming <= n_lsh_bands - 1``. Candidates
    meet through an equi-join on (band_id, band_bits) — bucketed, never
    all-pairs — then verify with ``bit_count(xor) <= max_hamming``
    JVM-side. Same shuffle shape as textops' MinHash band join: one
    shuffle of (id, 16-bit band) rows, join fan-out bounded by bucket
    population.

    ``fingerprints``: optional precomputed ``(id_col, afp)`` DataFrame
    (from ``audio_fingerprints``). The self-join references the
    fingerprint lineage on BOTH sides; Spark's ReusedExchange usually
    dedups the shuffled sides, but a broadcast side re-runs the
    decode+FFT pass — on a large corpus, persist the narrow fingerprint
    table once and pass it here so the payload scan happens exactly
    once.

    Cross-rate corpora: canonicalize first (``audio_resample`` to one
    rate), then pin the band range inside the LOWEST original Nyquist
    with an FFT fine enough to resolve the narrowest log band, and widen
    the verify threshold to absorb the resampler's interpolation error —
    ``f_lo=300, f_hi=2000, n_fft=2048, hop=1024, max_hamming=7,
    n_lsh_bands=8`` (band range per the published Haitsma-Kalker setup;
    8 LSH bands keep pigeonhole recall total for hamming <= 7). Measured
    on broadband content, a 16k master and its 8k-derived copy land at
    hamming 4-5 while unrelated clips stay > 25
    (tests/test_audio.py).

    ``fp_bits``: fingerprint width (64-bit multiples). The default
    64-bit/4-band code has only 2^16 buckets per band, so bucket
    population — and candidate pairs — grow LINEARLY with corpus size
    past ~10^7 clips (the same fixed-band-space quadratic the SRP text
    path had before auto band width). ``fp_bits=128`` (with
    ``audio_fingerprints(n_bits=128, n_fft=512)`` so the FFT resolves
    128 sub-bands) gives 32-bit bands: 2^32 buckets, ~250 rows/bucket
    at 10^12 clips, pigeonhole recall for hamming <= n_lsh_bands-1
    unchanged. The 64-bit default stays for the frozen-oracle gate."""
    if fp_bits % 64:
        raise ValueError("fp_bits must be a multiple of 64")
    if n_lsh_bands < 1 or fp_bits % n_lsh_bands:
        raise ValueError(
            f"n_lsh_bands={n_lsh_bands} must evenly divide "
            f"fp_bits={fp_bits} (bands must cover every bit for the "
            "pigeonhole recall guarantee)"
        )
    band_width = fp_bits // n_lsh_bands
    if band_width > 64 or 64 % band_width:
        raise ValueError(
            "each LSH band must sit inside one 64-bit fingerprint word: "
            f"fp_bits={fp_bits} / n_lsh_bands={n_lsh_bands} gives "
            f"band_width={band_width} (need a divisor of 64, <= 64)"
        )
    mask = (1 << band_width) - 1 if band_width < 64 else -1
    words = ["afp"] + [f"afp_hi{i if i > 1 else ''}"
                       for i in range(1, fp_bits // 64)]
    fp = fingerprints if fingerprints is not None else audio_fingerprints(
        df, bytes_col, codec_col, n_fft=n_fft, hop=hop, f_lo=f_lo,
        f_hi=f_hi, n_bits=fp_bits,
    )
    fp = fp.filter(F.col("afp").isNotNull()).select(id_col, *words)

    def _band_bits(b):
        word = words[(b * band_width) // 64]
        shift = (b * band_width) % 64
        return (F.shiftright(word, shift).bitwiseAND(F.lit(mask))
                .alias("band_bits"))

    bands = fp.select(
        id_col, *words,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_id"), _band_bits(b))
            for b in range(n_lsh_bands)
        ])).alias("band"),
    ).select(id_col, *words, "band.band_id", "band.band_bits")
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_bits") == F.col("b.band_bits"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *[F.col(f"a.{w}").alias(f"{w}_a") for w in words],
            *[F.col(f"b.{w}").alias(f"{w}_b") for w in words],
        )
        .distinct()
    )
    ham = None
    for w in words:
        h = F.bit_count(F.col(f"{w}_a").bitwiseXOR(F.col(f"{w}_b")))
        ham = h if ham is None else ham + h
    return (
        pairs.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# audio segmentation: one-to-many chunking for training-data pipelines
# (fixed windows over long clips), the audio counterpart of document
# chunking — a fan-out mapInArrow pass with typed per-segment metadata


def audio_segments(
    df: DataFrame,
    window_ms: int = 100,
    hop_ms: int | None = None,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    id_cols: tuple[str, ...] = ("clip_id",),
    emit_bytes: bool = True,
) -> DataFrame:
    """Chunk each clip into fixed windows of ``window_ms`` every
    ``hop_ms`` (default: non-overlapping). One OUTPUT ROW per segment:
    id columns + ``seg_idx``, ``seg_start_ms``, ``seg_n`` (samples),
    ``seg_sum`` / ``seg_sumsq`` / ``seg_maxabs`` (exact int64 content
    stats of the segment — the per-segment signature), and, when
    ``emit_bytes``, ``seg_bytes`` (a standalone PCM16 WAV of the
    segment). The tail segment is emitted shorter, never padded.

    Execution shape: one zero-copy ``mapInArrow`` fan-out — the payload
    crosses the JVM->Python boundary once, each segment re-encodes from a
    numpy slice (no per-sample Python), and undecodable/non-PCM clips
    produce zero rows. Row fan-out is bounded by ceil(dur/hop), so
    downstream partition sizing scales with TIME, not clip count."""
    import pyarrow as pa

    hop_ms = hop_ms or window_ms
    id_fields = [f for f in df.schema.fields if f.name in id_cols]
    ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in id_fields
    ) + (", `seg_idx` int, `seg_start_ms` long, `seg_n` long,"
         " `seg_sum` long, `seg_sumsq` long, `seg_maxabs` long")
    if emit_bytes:
        ddl += ", `seg_bytes` binary"

    def gen(batches):
        for batch in batches:
            bcol = batch.column(batch.schema.get_field_index(bytes_col))
            codec = batch.column(
                batch.schema.get_field_index(codec_col)
            ).to_pylist()
            ids = {
                f.name: batch.column(
                    batch.schema.get_field_index(f.name)
                ).to_pylist()
                for f in id_fields
            }
            out: dict[str, list] = {f.name: [] for f in id_fields}
            for c in ("seg_idx", "seg_start_ms", "seg_n", "seg_sum",
                      "seg_sumsq", "seg_maxabs"):
                out[c] = []
            if emit_bytes:
                out["seg_bytes"] = []
            for i in range(batch.num_rows):
                sc = bcol[i]
                if not sc.is_valid or (
                    codec[i] is not None and codec[i] != "wav"
                ):
                    continue
                try:
                    s, sr = decode_wav_numpy(memoryview(sc.as_buffer()))
                except ValueError:
                    continue
                n = int(s.shape[0])
                if n == 0 or sr <= 0:
                    continue
                win = max(1, (window_ms * sr) // 1000)
                hop = max(1, (hop_ms * sr) // 1000)
                a = s.astype(np.int64)
                for j, start in enumerate(range(0, n, hop)):
                    seg = a[start:start + win]
                    for f in id_fields:
                        out[f.name].append(ids[f.name][i])
                    out["seg_idx"].append(j)
                    out["seg_start_ms"].append(start * 1000 // sr)
                    out["seg_n"].append(int(seg.shape[0]))
                    out["seg_sum"].append(int(seg.sum()))
                    out["seg_sumsq"].append(int(np.dot(seg, seg)))
                    out["seg_maxabs"].append(int(np.abs(seg).max()))
                    if emit_bytes:
                        out["seg_bytes"].append(
                            encode_wav_pcm16(seg.astype(np.int16), sr)
                        )
            arrays = []
            names = []
            for f in id_fields:
                arrays.append(pa.array(out[f.name]))
                names.append(f.name)
            for c, t in (("seg_idx", pa.int32()), ("seg_start_ms", pa.int64()),
                         ("seg_n", pa.int64()), ("seg_sum", pa.int64()),
                         ("seg_sumsq", pa.int64()),
                         ("seg_maxabs", pa.int64())):
                arrays.append(pa.array(out[c], type=t))
                names.append(c)
            if emit_bytes:
                arrays.append(pa.array(out["seg_bytes"], type=pa.binary()))
                names.append("seg_bytes")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(gen, ddl)


# ---------------------------------------------------------------------------
# audio normalization transforms (training-data curation): sample-rate
# resampling and gain normalization. Both are deterministic numpy kernels
# in ONE zero-copy ``mapInArrow`` pass — the payload crosses the
# JVM->Python boundary once in each direction, no per-sample Python — and
# both REPLACE the bytes column in place, so a curation pipeline chains
# them ahead of fingerprinting/dedup without a second payload scan.
# Clips that cannot decode (missing/truncated payload, non-PCM codec)
# pass through untouched: normalization must never drop rows — the
# validation gates own reject decisions.


def _resample_linear(s: np.ndarray, src_sr: int, dst_sr: int) -> np.ndarray:
    """Deterministic linear-interpolation resample of int16 samples.
    n_out = round(n * dst/src); output sample j sits at input position
    j * (src/dst), linearly interpolated and rounded half-up
    (floor(x+0.5)) so the result is a pure closed form of the input —
    no library resampler, no dither."""
    n = s.shape[0]
    if src_sr == dst_sr or n == 0:
        return s.astype(np.int16, copy=False)
    n_out = int(round(n * dst_sr / src_sr))
    if n_out <= 0:
        return np.zeros(0, dtype=np.int16)
    pos = np.arange(n_out, dtype=np.float64) * (src_sr / dst_sr)
    i0 = np.minimum(pos.astype(np.int64), n - 1)
    i1 = np.minimum(i0 + 1, n - 1)
    frac = pos - i0
    a = s.astype(np.float64)
    v = a[i0] * (1.0 - frac) + a[i1] * frac
    return np.clip(np.floor(v + 0.5), -32768, 32767).astype(np.int16)


def audio_resample(
    df: DataFrame,
    target_sr: int,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
) -> DataFrame:
    """Resample every decodable clip to ``target_sr`` (linear
    interpolation), re-encode as PCM16 WAV in place, and update the
    ``sr_col`` metadata to match. Duration is preserved (``dur_ms``
    untouched); undecodable/non-PCM clips pass through with their
    original bytes and metadata.

    The canonical pre-dedup normalization step: spectral fingerprints and
    content signatures only compare equal across clips recorded at
    different rates after the corpus is brought to one rate. At 10^12
    rows this is embarrassingly parallel (zero shuffles); Arrow batch
    size bounds worker memory (session.py)."""
    import pyarrow as pa

    out_schema_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    names = [f.name for f in df.schema.fields]

    def gen(batches):
        for batch in batches:
            bcol = batch.column(batch.schema.get_field_index(bytes_col))
            codec = batch.column(
                batch.schema.get_field_index(codec_col)
            ).to_pylist()
            srs = batch.column(
                batch.schema.get_field_index(sr_col)
            ).to_pylist()
            new_bytes: list = []
            new_sr: list = []
            for i in range(batch.num_rows):
                sc = bcol[i]
                buf = sc.as_buffer() if sc.is_valid else None
                if buf is None or (codec[i] is not None and codec[i] != "wav"):
                    new_bytes.append(buf.to_pybytes() if buf else None)
                    new_sr.append(srs[i])
                    continue
                try:
                    s, sr = decode_wav_numpy(memoryview(buf))
                except ValueError:
                    new_bytes.append(buf.to_pybytes())
                    new_sr.append(srs[i])
                    continue
                out = _resample_linear(s, sr, target_sr)
                new_bytes.append(encode_wav_pcm16(out, target_sr))
                new_sr.append(target_sr)
            arrays = []
            for nm in names:
                if nm == bytes_col:
                    arrays.append(pa.array(new_bytes, type=pa.binary()))
                elif nm == sr_col:
                    arrays.append(pa.array(
                        new_sr,
                        type=batch.column(
                            batch.schema.get_field_index(sr_col)
                        ).type,
                    ))
                else:
                    arrays.append(
                        batch.column(batch.schema.get_field_index(nm))
                    )
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(gen, out_schema_ddl)


def audio_normalize_gain(
    df: DataFrame,
    target_dbfs: float = -1.0,
    mode: str = "peak",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
) -> DataFrame:
    """Scale every decodable clip so its peak (``mode='peak'``) or RMS
    (``mode='rms'``) level hits ``target_dbfs``, re-encoding PCM16 WAV in
    place (samples clipped at full scale — relevant only for RMS boosts).
    Digital silence and undecodable/non-PCM clips pass through unchanged.
    Same zero-copy single-pass execution shape as ``audio_resample``."""
    if mode not in ("peak", "rms"):
        raise ValueError(f"mode must be 'peak' or 'rms', got {mode!r}")
    import pyarrow as pa

    target_amp = 32768.0 * (10.0 ** (target_dbfs / 20.0))
    out_schema_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    names = [f.name for f in df.schema.fields]

    def gen(batches):
        for batch in batches:
            bcol = batch.column(batch.schema.get_field_index(bytes_col))
            codec = batch.column(
                batch.schema.get_field_index(codec_col)
            ).to_pylist()
            new_bytes: list = []
            for i in range(batch.num_rows):
                sc = bcol[i]
                buf = sc.as_buffer() if sc.is_valid else None
                if buf is None or (codec[i] is not None and codec[i] != "wav"):
                    new_bytes.append(buf.to_pybytes() if buf else None)
                    continue
                try:
                    s, sr = decode_wav_numpy(memoryview(buf))
                except ValueError:
                    new_bytes.append(buf.to_pybytes())
                    continue
                a = s.astype(np.float64)
                level = (
                    float(np.max(np.abs(a))) if mode == "peak"
                    else float(np.sqrt(np.dot(a, a) / a.shape[0]))
                    if a.shape[0] else 0.0
                )
                if level <= 0.0:
                    new_bytes.append(buf.to_pybytes())
                    continue
                v = a * (target_amp / level)
                out = np.clip(
                    np.floor(v + 0.5), -32768, 32767
                ).astype(np.int16)
                new_bytes.append(encode_wav_pcm16(out, sr))
            arrays = [
                pa.array(new_bytes, type=pa.binary()) if nm == bytes_col
                else batch.column(batch.schema.get_field_index(nm))
                for nm in names
            ]
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(gen, out_schema_ddl)


# ---------------------------------------------------------------------------
# energy-based silence trim: cut the dead air so storage, decode time and
# downstream fingerprints track content, not padding. Frame verdicts are
# RMS-threshold decisions over fixed frames — exact integer closed forms
# of the samples, so tests pin the trimmed slice to the sample.


def _activity_spans_one(
    s: np.ndarray, sr: int, frame_ms: int, threshold_dbfs: float
) -> list:
    """[(start_sample, end_sample), ...] merged active spans of one clip.
    A frame is active iff its RMS exceeds the threshold; adjacent active
    frames merge; span edges land on frame boundaries (the tail frame may
    be shorter). Sample indices, not ms, so the trim transform slices
    losslessly. Vectorized: one cumulative-sum-of-squares pass, no
    per-sample Python."""
    n = s.shape[0]
    if n == 0:
        return []
    flen = max(1, sr * frame_ms // 1000)
    a = s.astype(np.float64)
    cumsq = np.concatenate(([0.0], np.cumsum(a * a)))
    starts = np.arange(0, n, flen, dtype=np.int64)
    ends = np.minimum(starts + flen, n)
    rms = np.sqrt((cumsq[ends] - cumsq[starts]) / (ends - starts))
    active = rms > 32768.0 * (10.0 ** (threshold_dbfs / 20.0))
    if not active.any():
        return []
    edges = np.flatnonzero(np.diff(np.concatenate(
        ([False], active, [False]))))
    return [
        (int(starts[int(edges[k])]), int(ends[int(edges[k + 1]) - 1]))
        for k in range(0, edges.shape[0], 2)
    ]


def audio_trim_silence(
    df: DataFrame,
    frame_ms: int = 20,
    threshold_dbfs: float = -50.0,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    dur_col: str = "dur_ms",
) -> DataFrame:
    """Cut leading and trailing silence (internal pauses are kept): the
    payload is re-encoded to the [first active span start, last active
    span end] sample slice and ``dur_col`` updated to the trimmed
    duration. Fully-silent clips trim to an empty payload with dur 0 —
    downstream gates (``rms_db``/``transcript`` consistency) own the
    reject decision. Undecodable/non-PCM clips pass through untouched.
    Same single-pass zero-copy execution shape as ``audio_resample``."""
    import pyarrow as pa

    out_schema_ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )
    names = [f.name for f in df.schema.fields]

    def gen(batches):
        for batch in batches:
            bcol = batch.column(batch.schema.get_field_index(bytes_col))
            codec = batch.column(
                batch.schema.get_field_index(codec_col)
            ).to_pylist()
            durs = batch.column(
                batch.schema.get_field_index(dur_col)
            ).to_pylist()
            new_bytes: list = []
            new_dur: list = []
            for i in range(batch.num_rows):
                sc = bcol[i]
                buf = sc.as_buffer() if sc.is_valid else None
                if buf is None or (codec[i] is not None and codec[i] != "wav"):
                    new_bytes.append(buf.to_pybytes() if buf else None)
                    new_dur.append(durs[i])
                    continue
                try:
                    s, sr = decode_wav_numpy(memoryview(buf))
                except ValueError:
                    new_bytes.append(buf.to_pybytes())
                    new_dur.append(durs[i])
                    continue
                spans = _activity_spans_one(s, sr, frame_ms, threshold_dbfs)
                if not spans:
                    new_bytes.append(encode_wav_pcm16(
                        np.zeros(0, dtype=np.int16), sr))
                    new_dur.append(0)
                    continue
                k0, k1 = spans[0][0], spans[-1][1]  # exact sample slice
                out = s[k0:k1]
                new_bytes.append(encode_wav_pcm16(out, sr))
                new_dur.append(round(out.shape[0] * 1000 / sr))
            arrays = []
            for nm in names:
                if nm == bytes_col:
                    arrays.append(pa.array(new_bytes, type=pa.binary()))
                elif nm == dur_col:
                    arrays.append(pa.array(
                        new_dur,
                        type=batch.column(
                            batch.schema.get_field_index(dur_col)
                        ).type,
                    ))
                else:
                    arrays.append(
                        batch.column(batch.schema.get_field_index(nm))
                    )
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return df.mapInArrow(gen, out_schema_ddl)
