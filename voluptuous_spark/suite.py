"""The flagship clips validation suite (BASELINE.json north_star).

One call runs the FULL constraint set over a clips table:
  row level   : voluptuous-DSL schema compiled to one vectorized select
                (Required clip_id + Length, In(sr_hz), Range(dur_ms),
                In(codec), transcript Match) — zero shuffles
  content     : Arrow-batch PCM decode + SNR>=30dB cross-decoder check
  table level : clip_id uniqueness (1 hash-agg shuffle),
                referential clips<->transcripts (broadcast/AQE anti-join),
                transcript equality across tables,
                per-column stats (1 agg), codec histogram drift (PSI),
                dur_ms KS drift
  outputs     : valid / violations / per-partition pass-fail report

SCAN BUDGET — the property that matters at 10^12 rows: the source table
(including the wide audio ``bytes`` column) is scanned ONCE and the Arrow
PCM decode runs ONCE. The annotated result is persisted *without* the
bytes column (audio payload dominates size; everything downstream needs
only the skinny columns + the __errors array), and every other output —
violations, report, uniqueness, referential, stats, PSI, KS — derives
from that cached skinny table. Without this, each of the 8 outputs would
re-scan the table and re-decode the audio.

Shuffle budget (SURVEY.md §4.3): row+content = 0, uniqueness = 1,
referential = 1 (0 when broadcast), PSI = 1 hash agg (low-cardinality
skew absorbed by map-side partial agg; see checks/drift), KS = 1 hash agg
plus one single-task fold over the distinct values.

Job budget: ``run_suite`` itself launches NO Spark job — every output,
the exact KS included, is a lazy plan forced by ``violations.count()`` /
``SuiteResult.counts()`` (tests/test_drift.py pins the 0).

Build budget: every Column tree the suite applies is built once per
session (``_SuitePlan``, the checks' own memos and the compiled schema),
so a warm ``run_suite`` makes only ``select`` / ``groupBy`` / ``join``
calls over its input, and its schema compile is a memo hit.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .checks import (
    column_stats,
    ks_statistic,
    psi_report,
    uniqueness_report,
)
from .dsl import ALLOW_EXTRA, All, Coerce, In, Length, Match, Range, Required
from .schema import Schema
from .session import session_memo

VALID_SRS = [8000, 16000, 22050, 44100, 48000]
VALID_CODECS = ["wav", "flac", "opus", "mp3"]

CLIPS_SCHEMA = Schema(
    {
        Required("clip_id"): All(str, Length(min=1)),
        Required("sr_hz"): In(VALID_SRS),
        Required("dur_ms"): All(Coerce(int), Range(min=1, max=600000)),
        Required("codec"): In(VALID_CODECS),
        "transcript": Match(r"\S"),  # no leading whitespace, non-empty
    },
    extra=ALLOW_EXTRA,
)


@dataclass
class SuiteResult:
    row_result: object  # ValidationResult
    annotated: DataFrame  # skinny (no bytes), persisted when persist=True
    violations: DataFrame
    report: DataFrame
    uniqueness: DataFrame
    referential: DataFrame
    stats: DataFrame
    codec_psi: DataFrame
    dur_ks: DataFrame

    def counts(self) -> dict:
        """Materialize every table-level output. The six independent
        actions are submitted CONCURRENTLY (Spark schedules them together
        and packs tasks); serializing them would add ~one scheduler
        latency each, which at small scale dominates wall time. With AQE
        each shuffle stage is its own job: on 4k clips with transcripts
        the six actions run 20 Spark jobs (the KS is one action: one
        hash-agg shuffle, then a single-task fold). Each action's jobs
        carry the description ``run_suite:counts:<check>``."""
        from concurrent.futures import ThreadPoolExecutor

        spark = self.annotated.sparkSession
        plan = session_memo(spark, "run_suite", _SuitePlan)
        jobs = {
            "report": lambda: self.report.agg(*plan.report_totals).collect()[0],
            "uniqueness": lambda: self.uniqueness.collect()[0],
            "referential": lambda: self.referential.collect()[0],
            "stats_rows": lambda: self.stats.count(),
            "codec_psi": lambda: self.codec_psi.collect()[0]["psi"],
            "dur_ks": lambda: self.dur_ks.collect()[0]["ks_stat"],
        }

        def labelled(name, action):
            # a job description is a property of the submitting thread
            spark.sparkContext.setJobDescription(f"run_suite:counts:{name}")
            return action()

        with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
            res = {k: ex.submit(labelled, k, v) for k, v in jobs.items()}
            res = {k: f.result() for k, f in res.items()}
        rep = res["report"]
        return {
            "rows": rep["rows"],
            "passed": rep["passed"],
            "failed": rep["failed"],
            "violations": rep["violations"],
            "dup_key_rows": res["uniqueness"]["n_dup_keys"],
            "orphans": res["referential"]["n_orphans"],
            "stats_rows": res["stats_rows"],
            "codec_psi": res["codec_psi"],
            "dur_ks": res["dur_ks"],
        }

    def unpersist(self):
        self.annotated.unpersist()


def run_suite(
    clips: DataFrame,
    transcripts: DataFrame | None = None,
    with_pcm: bool = True,
    drift_reference: DataFrame | None = None,
    persist: bool = True,
    transcript_rate: tuple[float, float] | None = None,
    transcript_pii: bool | list = False,
) -> SuiteResult:
    """Run the full constraint suite with a single scan of the source.

    ``with_pcm``: the PCM check runs as a pure Column expression
    (audio.pcm_check_expr) inside the same whole-stage-codegen select as
    the row schema — the audio payload never crosses the JVM->Python
    boundary. It is differentially verified against the Arrow
    dual-decoder (audio.with_pcm_check) on every fixture corruption class
    (tests/test_audio.py).

    Every Column the suite applies, the extra checks and the compiled
    schema included, is built on the session's first call and reused
    after that, so a warm call costs a few dozen py4j calls to apply
    them to the new input and no Column build.
    """
    spark = clips.sparkSession
    rate_key = None if transcript_rate is None else tuple(transcript_rate)
    pii_key = (transcript_pii if isinstance(transcript_pii, bool)
               else tuple(transcript_pii))
    extra = session_memo(
        spark, ("run_suite.extra", with_pcm, rate_key, pii_key),
        lambda: _extra_checks(with_pcm, transcript_rate, transcript_pii))
    plan = session_memo(spark, "run_suite", _SuitePlan)
    row_res = CLIPS_SCHEMA.validate(
        clips, id_cols=["clip_id"], extra_checks=extra
    )

    # skinny annotated table: everything downstream, audio dropped
    ann = row_res.annotated.drop("bytes")
    if persist:
        # deserialized level: PySpark's MEMORY_AND_DISK is the serialized
        # variant, whose columnar re-encode measured 4-7x slower to build
        ann = ann.persist(StorageLevel.MEMORY_AND_DISK_DESER)

    violations = (
        ann.filter(plan.failed).select(*plan.exploded).select(*plan.violation)
    )
    report = ann.groupBy(plan.partition_id).agg(*plan.report)
    uniq = uniqueness_report(ann, ["clip_id"])

    if transcripts is not None:
        joined = ann.select(*plan.clip_side).join(
            transcripts.select(*plan.transcript_side), "clip_id", "full_outer")
        ref = joined.agg(*plan.referential).select(*plan.referential_out)
        tr_viol = joined.filter(plan.mismatch).select(*plan.mismatch_out)
        violations = violations.unionByName(tr_viol)
    else:
        ref = spark.createDataFrame(
            [(0, 0, 0.0, 0)],
            "n_child long, n_orphans long, orphan_rate double, n_mismatches long",
        )

    stats = column_stats(
        ann, ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]
    )

    if drift_reference is None:
        a, b = ann.filter(plan.half_a), ann.filter(plan.half_b)
    else:
        a, b = ann, drift_reference
    codec_psi = psi_report(a, b, "codec")
    dur_ks = ks_statistic(a, b, "dur_ms")

    return SuiteResult(
        row_result=row_res,
        annotated=ann,
        violations=violations,
        report=report,
        uniqueness=uniq,
        referential=ref,
        stats=stats,
        codec_psi=codec_psi,
        dur_ks=dur_ks,
    )


def _extra_checks(with_pcm, transcript_rate, transcript_pii) -> list:
    """``Schema.validate`` extra checks for ``run_suite``'s options."""
    extra = []
    if transcript_rate is not None:
        # joint audio<->text speaking-rate gate: pure Column over metadata
        # already in the row — rides the same single-scan select, zero
        # added shuffles. Opt-in because plausible chars/sec bounds are a
        # property of the corpus language/style (and the synthetic test
        # fixture's transcripts are deliberately duration-uncorrelated).
        from .audio import transcript_rate_check_expr

        lo, hi = transcript_rate
        extra.append(
            ("transcript", transcript_rate_check_expr(max_cps=hi, min_cps=lo))
        )
    if transcript_pii:
        # transcript PII gate: same zero-shuffle detector expressions as
        # pii.pii_counts, riding the single-scan select. Opt-in (True =
        # all kinds, or a kind list) because PII policy is corpus-specific
        from .pii import pii_check_expr

        kinds = None if transcript_pii is True else list(transcript_pii)
        extra.append(
            ("transcript", pii_check_expr("transcript", kinds), "PiiInvalid")
        )
    if with_pcm:
        from .audio import pcm_check_expr

        extra.append(("bytes", pcm_check_expr()))
    return extra


class _SuitePlan:
    """The Column lists ``run_suite`` and ``SuiteResult.counts`` apply
    over the annotated table, built once per session
    (``session.session_memo``): each node of a Column tree costs a py4j
    round trip to build."""

    def __init__(self):
        errors = F.col("__errors")
        clip_id = F.col("clip_id")
        # violations: one row per __errors entry
        self.failed = F.size(errors) > 0
        self.exploded = [clip_id, F.explode(errors).alias("e")]
        self.violation = [
            clip_id,
            F.col("e.path").alias("path"),
            F.col("e.message").alias("message"),
            F.col("e.error_type").alias("error_type"),
            F.col("e.offending").alias("offending"),
        ]
        # report: pass/fail per partition, and its totals in counts()
        ok = (F.size(errors) == 0).cast("long")
        self.partition_id = F.spark_partition_id().alias("partition_id")
        self.report = [
            F.count(F.lit(1)).alias("rows"),
            F.sum(ok).alias("passed"),
            F.sum(1 - ok).alias("failed"),
            F.sum(F.size(errors)).alias("violation_count"),
        ]
        self.report_totals = [
            F.sum("rows").alias("rows"),
            F.sum("passed").alias("passed"),
            F.sum("failed").alias("failed"),
            F.sum("violation_count").alias("violations"),
        ]
        # referential: clips <-> transcripts in one full outer join
        transcript, expected = F.col("transcript"), F.col("__expected")
        c, t = F.col("__c"), F.col("__t")
        self.clip_side = [clip_id, transcript, F.lit(1).alias("__c")]
        self.transcript_side = [
            clip_id, transcript.alias("__expected"), F.lit(1).alias("__t"),
        ]
        self.referential = [
            F.count(F.lit(1)).alias("n_child"),
            # side-table rows with no matching clip (and vice versa)
            F.sum((c.isNull() | t.isNull()).cast("long")).alias("n_orphans"),
            F.sum(
                (c.isNotNull() & t.isNotNull()
                 & ~transcript.eqNullSafe(expected)).cast("long")
            ).alias("n_mismatches"),
        ]
        self.referential_out = [
            F.col("n_child"),
            F.col("n_orphans"),
            (F.col("n_orphans") / F.col("n_child")).alias("orphan_rate"),
            F.col("n_mismatches"),
        ]
        self.mismatch = (
            transcript.isNotNull() & expected.isNotNull()
            & (transcript != expected)
        )
        self.mismatch_out = [
            clip_id,
            F.array(F.lit("transcript")).alias("path"),
            F.lit("transcript does not match reference").alias("message"),
            F.lit("ValueInvalid").alias("error_type"),
            F.lit(None).cast("string").alias("offending"),
        ]
        # drift: the table split in two halves by a hash of the key
        half = F.crc32(clip_id) % 2
        self.half_a, self.half_b = half == 0, half == 1
