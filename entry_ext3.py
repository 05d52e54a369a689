"""Driver queries #3: the audio payload itself under the correctness gate.

Round 2 brings the WAV encode -> decode -> verdict/feature pipeline — the
graft's actual payload — under the driver's hash-checked DuckDB oracle,
not just pytest + bench. The input is ``datasynth.oracle_clips_df``: a
deterministic clips table (BASELINE.json input_hint shape) whose PCM
content is a pure closed form of (clip_id, sample_index), so DuckDB can
regenerate the samples with range() joins and aggregate the exact same
statistics the engine computes from the decoded bytes.

  - ``pcm_invariant``: per-clip verdicts from BOTH the pure-JVM Column
    validator (``pcm_check_expr``) and the Arrow dual-decoder path
    (``with_pcm_check``) over clips with one planned defect class per
    ``clip_id % 8`` (silence / clipped / noise / duration mismatch /
    sample-rate mismatch / missing payload / truncated header / non-PCM
    codec). The oracle emits the expected message strings closed-form;
    both engine paths must agree with it — a three-way differential.
  - ``audio_features_check``: n_samples / rms_db / peak_db /
    clipping_ratio / dc_offset / zcr computed by the engine from the
    encoded WAV bytes (mapInArrow decode), hash-checked against DuckDB
    computing the same statistics from the closed-form integer samples.
    Exactness holds because every aggregate is an integer sum (< 2^53)
    and the dBFS/ratio math is the same double-precision closed form on
    both sides (see audio._features_one), rounded to 6 places.

Sentinels (-1 / -999.0 / 'ok') replace NULLs so pandas dtypes stay
identical between Spark toPandas() and DuckDB .df() for the driver's
value hash (nullable int64 would otherwise decay to float64).
"""

from __future__ import annotations

from pyspark.sql import functions as F

N_ORACLE_CLIPS = 64
_FEATS = ["rms_db", "peak_db", "clipping_ratio", "dc_offset", "zcr"]

# the closed-form sample generator, shared by both oracles: v(c,k) =
# ((c+1)*104729*(k+13)) % 65536 - 32768, silenced for c%8=0 and
# full-scale-clipped for c%8=1 (mirror of datasynth._oracle_samples)
_SAMPLES_CTE = f"""
clips AS (
  SELECT range AS c, 1600 + (range % 5) * 320 AS n
  FROM range({N_ORACLE_CLIPS})
),
s AS (
  SELECT c.c, k.range AS k,
         CASE
           WHEN c.c % 8 = 0 THEN 0
           WHEN c.c % 8 = 1 THEN
             CASE WHEN ((c.c+1)*104729*(k.range+13)) % 65536 - 32768 >= 0
                  THEN 32767 ELSE -32768 END
           ELSE ((c.c+1)*104729*(k.range+13)) % 65536 - 32768
         END AS v
  FROM clips c CROSS JOIN range(2880) k
  WHERE k.range < c.n
)"""


def _pcm_invariant(spark, sf_dir):
    """Both validator paths over the planned-defect clips, one scan: the
    JVM Column verdict is computed while ``bytes`` is still present, then
    the Arrow dual-decoder path consumes (and drops) the payload."""
    from voluptuous_spark.audio import pcm_check_expr, with_pcm_check
    from voluptuous_spark.datasynth import oracle_clips_df

    df = oracle_clips_df(spark, N_ORACLE_CLIPS).withColumn(
        "jvm_err", pcm_check_expr()
    )
    checked = with_pcm_check(df)
    return checked.select(
        "clip_id",
        F.coalesce("jvm_err", F.lit("ok")).alias("jvm_verdict"),
        F.coalesce(F.col("__pcm_err"), F.lit("ok")).alias("arrow_verdict"),
    )


def _audio_features_check(spark, sf_dir):
    """Features + quality-gate verdicts in ONE pass. ``gates`` is
    ``audio_gate_labels()`` — the sorted comma-joined failed gate names
    (thresholds from ``audio._gate_conditions``) evaluated as
    a Column expression in the same stage as the feature projection (no
    join, no second Arrow pass); 'pass' when clean, '-' when the payload
    was absent/undecodable/non-PCM. Gate NAMES only, so the oracle
    reproduces the threshold semantics without any float-to-string
    rendering hazard.

    ``t_gates`` adds the joint audio<->transcript consistency gates
    (speaking-rate bounds, silent-but-transcribed, active-but-empty) in
    the same codegen stage — the fixture trips cps_high (3-char
    transcript on 100ms clips), cps_low (the duration-mismatch class
    pads dur_ms by 500ms) and silent_transcribed (the digital-silence
    class), all recomputed closed-form by the oracle.
    """
    from voluptuous_spark.audio import (
        audio_features,
        audio_gate_labels,
        transcript_gate_labels,
    )
    from voluptuous_spark.datasynth import oracle_clips_df

    df = oracle_clips_df(spark, N_ORACLE_CLIPS)
    feats = audio_features(df)
    return feats.select(
        "clip_id",
        F.coalesce("n_samples", F.lit(-1).cast("long")).alias("n_samples"),
        *[
            F.round(F.coalesce(F.col(c), F.lit(-999.0)), 6).alias(c)
            for c in _FEATS
        ],
        F.coalesce(audio_gate_labels(), F.lit("-")).alias("gates"),
        transcript_gate_labels(max_cps=25.0, min_cps=6.0).alias("t_gates"),
    )


_VERDICT_SQL = """CASE c % 8
      WHEN 3 THEN 'duration mismatch: payload ' || CAST(n // 16 AS VARCHAR)
                  || 'ms != dur_ms ' || CAST(n // 16 + 500 AS VARCHAR) || 'ms'
      WHEN 4 THEN 'header sample rate 16000 != sr_hz 8000'
      WHEN 5 THEN 'required key not provided'
      WHEN 6 THEN 'PCM decode failed: truncated header'
      ELSE 'ok'
    END"""

def _audio_dedup(spark, sf_dir):
    """Content-defined exact audio dedup over the closed-form clips:
    groups by the exact integer signature of the DECODED samples, so the
    DuckDB oracle regenerates the grouping from (clip_id, sample_index)
    alone. The fixture's silence clips (c%8=0) with equal sample counts
    are true content duplicates — the engine must find exactly those."""
    from voluptuous_spark.audio import audio_exact_duplicates
    from voluptuous_spark.datasynth import oracle_clips_df

    df = oracle_clips_df(spark, N_ORACLE_CLIPS)
    return audio_exact_duplicates(df)


def _audio_near_dups(spark, sf_dir):
    """Spectral-fingerprint near-dup pairs (banded LSH over 64-bit
    Haitsma-Kalker bits). The Spark side runs the REAL decode -> FFT ->
    fingerprint -> banded-LSH pipeline; the DuckDB oracle replays the
    banded-LSH pair join + hamming count in pure SQL over the FROZEN
    fingerprints of the deterministic 64-clip fixture
    (_AFP_FROZEN below) — so the gate verifies the whole pipeline
    end-to-end, not just the join."""
    from voluptuous_spark.audio import audio_near_duplicates
    from voluptuous_spark.datasynth import oracle_clips_df

    df = oracle_clips_df(spark, N_ORACLE_CLIPS)
    return audio_near_duplicates(df, max_hamming=0)


def _audio_segments_check(spark, sf_dir):
    """50ms chunking fan-out (one row per segment) with exact per-segment
    integer content stats; DuckDB regenerates every segment's stats from
    the closed-form samples via k//win grouping."""
    from voluptuous_spark.audio import audio_segments
    from voluptuous_spark.datasynth import oracle_clips_df

    df = oracle_clips_df(spark, N_ORACLE_CLIPS)
    return audio_segments(df, window_ms=50, emit_bytes=False)


EXTRA3_QUERIES = {
    "pcm_invariant": _pcm_invariant,
    "audio_features_check": _audio_features_check,
    "audio_dedup": _audio_dedup,
    "audio_near_dups": _audio_near_dups,
    "audio_segments_check": _audio_segments_check,
}

EXTRA3_ORACLES = {
    "audio_segments_check": f"""
        WITH {_SAMPLES_CTE}
        SELECT s.c AS clip_id,
               CAST(s.k // 800 AS INT) AS seg_idx,
               (s.k // 800) * 50 AS seg_start_ms,
               COUNT(*) AS seg_n,
               CAST(SUM(s.v) AS BIGINT) AS seg_sum,
               CAST(SUM(s.v * s.v) AS BIGINT) AS seg_sumsq,
               MAX(ABS(s.v)) AS seg_maxabs
        FROM s
        WHERE s.c % 8 NOT IN (5, 6, 7)
        GROUP BY s.c, s.k // 800
    """,
    "audio_dedup": f"""
        WITH {_SAMPLES_CTE},
        agg AS (
          SELECT s.c, COUNT(*) AS n, SUM(s.v) AS sv,
                 SUM(s.v * s.v) AS ss, MAX(ABS(s.v)) AS mx,
                 MAX(CASE WHEN s.k = 0 THEN s.v END) AS vf,
                 MAX(CASE WHEN s.k = cl.n - 1 THEN s.v END) AS vl
          FROM s JOIN clips cl ON cl.c = s.c
          WHERE s.c % 8 NOT IN (5, 6, 7)
          GROUP BY s.c
        ),
        g AS (
          SELECT c,
                 COUNT(*) OVER (PARTITION BY n, sv, ss, mx, vf, vl)
                   AS group_size,
                 MIN(c) OVER (PARTITION BY n, sv, ss, mx, vf, vl)
                   AS canonical_id
          FROM agg
        )
        SELECT c AS clip_id, canonical_id, group_size
        FROM g
        WHERE group_size > 1 AND c <> canonical_id
    """,
    "pcm_invariant": f"""
        WITH clips AS (
          SELECT range AS c, 1600 + (range % 5) * 320 AS n
          FROM range({N_ORACLE_CLIPS})
        )
        SELECT c AS clip_id,
               {_VERDICT_SQL} AS jvm_verdict,
               {_VERDICT_SQL} AS arrow_verdict
        FROM clips
    """,
    "audio_features_check": f"""
        WITH {_SAMPLES_CTE},
        lagd AS (
          SELECT c, (v < 0) AS neg,
                 LAG(v < 0) OVER (PARTITION BY c ORDER BY k) AS pneg
          FROM s
        ),
        agg AS (
          SELECT c, COUNT(*) AS n, SUM(v * v) AS ss, MAX(ABS(v)) AS mx,
                 SUM(CASE WHEN ABS(v) >= 32767 THEN 1 ELSE 0 END) AS nclip,
                 SUM(v) AS sv
          FROM s GROUP BY c
        ),
        zagg AS (
          SELECT c, SUM(CASE WHEN pneg IS NOT NULL AND neg <> pneg
                             THEN 1 ELSE 0 END) AS zc
          FROM lagd GROUP BY c
        )
        SELECT cl.c AS clip_id,
          CASE WHEN cl.c % 8 IN (5, 6, 7) THEN -1
               ELSE a.n END AS n_samples,
          CASE WHEN cl.c % 8 IN (5, 6, 7) THEN -999.0
               WHEN a.ss = 0 THEN -120.0
               ELSE ROUND(GREATEST(
                 20.0 * LOG10(SQRT(a.ss * 1.0 / a.n) / 32768.0), -120.0), 6)
          END AS rms_db,
          CASE WHEN cl.c % 8 IN (5, 6, 7) THEN -999.0
               WHEN a.mx = 0 THEN -120.0
               ELSE ROUND(GREATEST(20.0 * LOG10(a.mx / 32768.0), -120.0), 6)
          END AS peak_db,
          CASE WHEN cl.c % 8 IN (5, 6, 7) THEN -999.0
               ELSE ROUND(a.nclip * 1.0 / a.n, 6) END AS clipping_ratio,
          CASE WHEN cl.c % 8 IN (5, 6, 7) THEN -999.0
               ELSE ROUND((a.sv * 1.0 / a.n) / 32768.0, 6) END AS dc_offset,
          CASE WHEN cl.c % 8 IN (5, 6, 7) THEN -999.0
               ELSE ROUND(z.zc * 1.0 / (a.n - 1), 6) END AS zcr,
          CASE WHEN cl.c % 8 IN (5, 6, 7) THEN '-'
               ELSE COALESCE(NULLIF(CONCAT_WS(',',
                 CASE WHEN a.nclip * 1.0 / a.n > 0.01
                      THEN 'clipping_ratio' END,
                 CASE WHEN ABS((a.sv * 1.0 / a.n) / 32768.0) > 0.02
                      THEN 'dc_offset' END,
                 CASE WHEN (CASE WHEN a.ss = 0 THEN -120.0
                            ELSE GREATEST(20.0 * LOG10(
                              SQRT(a.ss * 1.0 / a.n) / 32768.0), -120.0)
                            END) < -60.0
                      THEN 'rms_db' END,
                 CASE WHEN z.zc * 1.0 / (a.n - 1) < 0.0 AND a.n > 1
                      THEN 'zcr' END), ''), 'pass')
          END AS gates,
          COALESCE(NULLIF(CONCAT_WS(',',
            CASE WHEN cl.c % 8 NOT IN (5, 6, 7)
                      AND (CASE WHEN a.ss = 0 THEN -120.0
                           ELSE GREATEST(20.0 * LOG10(
                             SQRT(a.ss * 1.0 / a.n) / 32768.0), -120.0)
                           END) > -60.0
                      AND LENGTH('t' || CAST(cl.c AS VARCHAR)) = 0
                 THEN 'active_empty' END,
            CASE WHEN (LENGTH('t' || CAST(cl.c AS VARCHAR)) * 1000.0)
                      / (cl.n // 16
                         + CASE WHEN cl.c % 8 = 3 THEN 500 ELSE 0 END)
                      > 25.0
                 THEN 'cps_high' END,
            CASE WHEN (LENGTH('t' || CAST(cl.c AS VARCHAR)) * 1000.0)
                      / (cl.n // 16
                         + CASE WHEN cl.c % 8 = 3 THEN 500 ELSE 0 END)
                      < 6.0
                 THEN 'cps_low' END,
            CASE WHEN cl.c % 8 NOT IN (5, 6, 7)
                      AND (CASE WHEN a.ss = 0 THEN -120.0
                           ELSE GREATEST(20.0 * LOG10(
                             SQRT(a.ss * 1.0 / a.n) / 32768.0), -120.0)
                           END) <= -60.0
                 THEN 'silent_transcribed' END), ''), 'pass') AS t_gates
        FROM clips cl
        JOIN agg a ON a.c = cl.c
        JOIN zagg z ON z.c = cl.c
    """,
}

# Frozen 64-bit spectral fingerprints of the deterministic 64-clip
# fixture (audio_fingerprints over oracle_clips_df(64), defaults
# n_fft=256/hop=128/f_lo=100): decode-failure clips (c % 8 in 5,6,7)
# yield NULL and are excluded. Regenerate with
# tools/freeze_audio_fp.py if the fixture or fingerprint params change.
_AFP_FROZEN = [
    (0, 0), (1, -2131305051364210624), (2, -1053021300694153152),
    (3, 1125899906842624), (4, 140892388196352), (8, 0),
    (9, -4769851483049899968), (10, 1644169216),
    (11, -1236282091309480928), (12, -6243445827756064672), (16, 0),
    (17, -5993153651243072480), (18, 364938354619353088),
    (19, 4769497431581034560), (20, -3951727214942206944), (24, 0),
    (25, 0), (26, -3518623390466292704), (27, 1191388645365434432),
    (28, -7109886910509563808), (32, 0), (33, 576460752303423488),
    (34, -4521613920103823360), (35, -5353136700890397664),
    (36, 6579016442382126144), (40, 0), (41, 5938164484872110080),
    (42, 7291506791299596384), (43, 1164577604112533568),
    (44, 2678046700714607648), (48, 0), (49, 18015635460194304),
    (50, 284362357752864), (51, -6861760608504247232),
    (52, 5423844168813297760), (56, 0), (57, 4844349743871298560),
    (58, -8457406784234012576), (59, -5922844096009714656),
    (60, 3325415178336),
]

_AFP_VALUES = ",".join(
    f"(CAST({c} AS BIGINT), CAST({f} AS BIGINT))" for c, f in _AFP_FROZEN
)

# DuckDB replay of audio_near_duplicates' banded LSH join + hamming
# verify (4 bands x 16 bits, max_hamming=0) over the frozen
# fingerprints — same shifts/masks/xor/bit_count as the Spark plan.
EXTRA3_ORACLES["audio_near_dups"] = f"""
    WITH fp(clip_id, afp) AS (VALUES {_AFP_VALUES}),
    bands AS (
      SELECT clip_id, afp, band_id,
             (afp >> (band_id * 16)) & 65535 AS band_bits
      FROM fp, (VALUES (0),(1),(2),(3)) b(band_id)
    ),
    pairs AS (
      SELECT DISTINCT a.clip_id AS id_a, b.clip_id AS id_b,
             a.afp AS fa, b.afp AS fb
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_bits = b.band_bits
       AND a.clip_id < b.clip_id
    )
    SELECT id_a, id_b,
           CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
    FROM pairs WHERE bit_count(xor(fa, fb)) <= 0
"""
