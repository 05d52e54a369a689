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
        hash-agg shuffle, then a single-task fold)."""
        from concurrent.futures import ThreadPoolExecutor

        jobs = {
            "report": lambda: self.report.agg(
                F.sum("rows").alias("rows"),
                F.sum("passed").alias("passed"),
                F.sum("failed").alias("failed"),
                F.sum("violation_count").alias("violations"),
            ).collect()[0],
            "uniqueness": lambda: self.uniqueness.collect()[0],
            "referential": lambda: self.referential.collect()[0],
            "stats_rows": lambda: self.stats.count(),
            "codec_psi": lambda: self.codec_psi.collect()[0]["psi"],
            "dur_ks": lambda: self.dur_ks.collect()[0]["ks_stat"],
        }
        with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
            res = {k: ex.submit(v) for k, v in jobs.items()}
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
    """
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

    row_res = CLIPS_SCHEMA.validate(
        clips, id_cols=["clip_id"], extra_checks=extra
    )

    # skinny annotated table: everything downstream, audio dropped
    ann = row_res.annotated.drop("bytes")
    if persist:
        # deserialized level: PySpark's MEMORY_AND_DISK is the serialized
        # variant, whose columnar re-encode measured 4-7x slower to build
        ann = ann.persist(StorageLevel.MEMORY_AND_DISK_DESER)

    err = F.explode("__errors").alias("e")
    violations = (
        ann.filter(F.size("__errors") > 0)
        .select("clip_id", err)
        .select(
            "clip_id",
            F.col("e.path").alias("path"),
            F.col("e.message").alias("message"),
            F.col("e.error_type").alias("error_type"),
            F.col("e.offending").alias("offending"),
        )
    )

    ok = (F.size("__errors") == 0).cast("long")
    report = ann.groupBy(
        F.spark_partition_id().alias("partition_id")
    ).agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(ok).alias("passed"),
        F.sum(1 - ok).alias("failed"),
        F.sum(F.size("__errors")).alias("violation_count"),
    )

    uniq = uniqueness_report(ann, ["clip_id"])

    if transcripts is not None:
        t = transcripts.select(
            "clip_id",
            F.col("transcript").alias("__expected"),
            F.lit(1).alias("__t"),
        )
        joined = ann.select(
            "clip_id", "transcript", F.lit(1).alias("__c")
        ).join(t, "clip_id", "full_outer")
        ref = joined.agg(
            F.count(F.lit(1)).alias("n_child"),
            # side-table rows with no matching clip (and vice versa)
            F.sum(
                (F.col("__c").isNull() | F.col("__t").isNull()).cast("long")
            ).alias("n_orphans"),
            F.sum(
                (
                    F.col("__c").isNotNull()
                    & F.col("__t").isNotNull()
                    & ~F.col("transcript").eqNullSafe(F.col("__expected"))
                ).cast("long")
            ).alias("n_mismatches"),
        ).select(
            "n_child",
            "n_orphans",
            (F.col("n_orphans") / F.col("n_child")).alias("orphan_rate"),
            "n_mismatches",
        )
        tr_viol = (
            joined.filter(
                F.col("transcript").isNotNull()
                & F.col("__expected").isNotNull()
                & (F.col("transcript") != F.col("__expected"))
            )
            .select(
                "clip_id",
                F.array(F.lit("transcript")).alias("path"),
                F.lit("transcript does not match reference").alias("message"),
                F.lit("ValueInvalid").alias("error_type"),
                F.lit(None).cast("string").alias("offending"),
            )
        )
        violations = violations.unionByName(tr_viol)
    else:
        ref = clips.sparkSession.createDataFrame(
            [(0, 0, 0.0, 0)],
            "n_child long, n_orphans long, orphan_rate double, n_mismatches long",
        )

    stats = column_stats(
        ann, ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]
    )

    if drift_reference is None:
        a = ann.filter(F.crc32(F.col("clip_id")) % 2 == 0)
        b = ann.filter(F.crc32(F.col("clip_id")) % 2 == 1)
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
