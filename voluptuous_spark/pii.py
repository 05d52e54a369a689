"""PII detection / redaction over text columns (documents table).

A training-data pipeline must find and strip personally-identifying
strings before a corpus ships. Everything here is pure Column
expressions — `regexp_extract_all` / `regexp_replace` / lambda
higher-order functions run JVM-side inside whole-stage codegen, so the
scan never crosses into Python and Catalyst pushes projections/filters
through as usual. Oracle-checkable: DuckDB's RE2-style
`regexp_extract_all` / `regexp_replace(..., 'g')` accept the same
patterns (both engines are RE2-class — no backreferences used).

Detectors (pattern registry ``PII_PATTERNS``):

- ``email``       RFC-lite mailbox
- ``phone``       international/US forms, 10-15 digits with separators
- ``ssn``         US social security (###-##-####), word-bounded
- ``ipv4``        dotted quad with per-octet 0-255 range enforcement
- ``card``        13-19 digit payment-card candidates; candidates are
                  then *verified by a Luhn checksum* computed as a pure
                  ``F.aggregate`` fold over the digit array (no UDF) —
                  a random 16-digit number is NOT flagged

Scale: detection/redaction is embarrassingly parallel (zero shuffles,
zero joins); ``pii_report`` adds the single partial-aggregating
corpus-level rollup you'd expect. A 100 TB corpus scans once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# RE2-compatible (works verbatim in Spark's Java regex AND DuckDB's RE2;
# no backreferences, no lookbehind).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # two alternatives: international (+CC then 2-4 separator-delimited
    # digit groups — the leading '+' is what licenses the looser shape)
    # or US-ish ###[-. ]###/####[-. ]###/#### with optional area parens.
    # Version strings ("1.2.3.400") and dates ("22 08 2026") fail both:
    # every group needs 3-4 digits in the strict form, and the loose
    # form needs the '+'.
    "phone": (
        r"(?:\+[0-9]{1,3}[ .-]?(?:\(?[0-9]{1,4}\)?[ .-]){2,4}[0-9]{2,4})"
        r"|(?:\(?[0-9]{3,4}\)?[ .-][0-9]{3,4}[ .-][0-9]{3,4})"
    ),
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "ipv4": (
        r"\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\.){3}"
        r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\b"
    ),
    # candidate only — Luhn verification below decides
    "card": r"\b[0-9]{4}(?:[ -]?[0-9]{4}){2,3}(?:[ -]?[0-9]{1,3})?\b",
}

# Redaction tokens, in the order replacements are applied. Card before
# phone: a spaced card number ("4556 7375 8689 9855") also matches the
# phone pattern, and the longer/more-specific category must claim it.
_REDACT_ORDER = ["email", "ssn", "ipv4", "card", "phone"]


def luhn_valid(candidate_col):
    """Luhn checksum as a pure Column fold: strip separators, split to
    digits, double every second digit from the RIGHT (subtracting 9 when
    >9), sum mod 10 == 0. `F.aggregate` over the reversed digit array
    keeps the whole check inside codegen — no UDF, no Python."""
    digits = F.split(F.reverse(F.regexp_replace(candidate_col, r"[ -]", "")), "")
    # split on "" yields a trailing "" element in Spark; filter empties
    digits = F.filter(digits, lambda d: d != "")
    idx = F.transform(digits, lambda d, i: F.struct(d.cast("int").alias("d"),
                                                   i.alias("i")))
    total = F.aggregate(
        idx,
        F.lit(0),
        lambda acc, x: acc + F.when(
            x["i"] % 2 == 1,
            F.when(x["d"] * 2 > 9, x["d"] * 2 - 9).otherwise(x["d"] * 2),
        ).otherwise(x["d"]),
    )
    return total % 10 == 0


def _card_hits(text_col):
    cands = F.regexp_extract_all(text_col, F.lit(PII_PATTERNS["card"]), 0)
    # 13-19 digits after separator strip, then Luhn
    return F.filter(
        cands,
        lambda c: F.length(F.regexp_replace(c, r"[ -]", "")).between(13, 19)
        & luhn_valid(c),
    )


def _kind_hits(text_col, k):
    # NULL text -> no hits (not NULL counts: size(NULL) would poison
    # pii_total and the violation filters)
    text_col = F.coalesce(text_col, F.lit(""))
    if k == "card":
        return _card_hits(text_col)
    if k == "phone":
        # a spaced card number is also a syntactic phone match; mask
        # card CANDIDATES first so the more-specific kind claims them
        text_col = F.regexp_replace(text_col, PII_PATTERNS["card"], " ")
    return F.regexp_extract_all(text_col, F.lit(PII_PATTERNS[k]), 0)


def pii_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    kinds=None,
) -> DataFrame:
    """(id, <kind>_count..., pii_total) — one row per document, zero
    shuffles. The per-kind columns let a Schema gate them (e.g.
    ``Required('email_count'): Range(max=0)``)."""
    kinds = list(kinds or PII_PATTERNS)
    cols = [F.col(id_col)]
    for k in kinds:
        cols.append(
            F.size(_kind_hits(F.col(text_col), k)).alias(f"{k}_count")
        )
    out = df.select(*cols)
    total = None
    for k in kinds:
        c = F.col(f"{k}_count")
        total = c if total is None else total + c
    return out.withColumn("pii_total", total)


def redact_pii(
    df: DataFrame,
    text_col: str = "text",
    kinds=None,
    token: str = "[PII:{kind}]",
) -> DataFrame:
    """Replace every PII match in ``text_col`` with a per-kind token.
    Chained ``regexp_replace`` — still one projection, still codegen.
    Card redaction is regex-only (candidates that fail Luhn are also
    masked): a redaction pass must err toward masking, unlike detection
    which errs toward precision."""
    kinds = [k for k in _REDACT_ORDER if k in set(kinds or _REDACT_ORDER)]
    col = F.col(text_col)
    for k in kinds:
        col = F.regexp_replace(
            col, PII_PATTERNS[k], token.format(kind=k)
        )
    return df.withColumn(text_col, col)


def pii_report(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus rollup: one row per kind with document frequency and total
    match count. Single partial-aggregated pass (map-side combine)."""
    counts = pii_counts(df, text_col, id_col)
    aggs = []
    for k in PII_PATTERNS:
        aggs.append(
            F.sum(F.when(F.col(f"{k}_count") > 0, 1).otherwise(0)).alias(
                f"{k}_docs"
            )
        )
        aggs.append(F.sum(f"{k}_count").alias(f"{k}_matches"))
    return counts.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("pii_total") > 0, 1).otherwise(0)).alias(
            "docs_with_pii"
        ),
        *aggs,
    )


# ---------------------------------------------------------------------------
# DSL integration: a first-class validator so PII gating composes with
# every other rule — Schema({"text": PiiFree()}) emits violation rows
# with the engine's standard message/error_type surface.
# ---------------------------------------------------------------------------

from .dsl import Validator, _pred_check  # noqa: E402


class PiiFree(Validator):
    """Passes iff the string contains no PII of the given ``kinds``
    (default: all detectors; card candidates Luhn-verified). Message
    names the first kind found: 'contains PII (email)'. Pure predicate
    over the same zero-shuffle detector expressions as ``pii_counts``,
    so it rides the row's single validation select."""

    def __init__(self, kinds=None, msg=None):
        if kinds is not None and not list(kinds):
            # an empty list would silently gate on nothing (and the
            # bound predicate would degenerate to a Python bool)
            raise ValueError("kinds must be non-empty (or None for all)")
        self.kinds = list(kinds or PII_PATTERNS)
        unknown = set(self.kinds) - set(PII_PATTERNS)
        if unknown:
            raise ValueError(f"unknown PII kinds: {sorted(unknown)}")
        self.msg = msg

    def __repr__(self):
        return "PiiFree(%r, msg=%r)" % (self.kinds, self.msg)

    def bind(self, dtype):
        from pyspark.sql import types as T

        if not isinstance(dtype, T.StringType):
            return _pred_check(
                lambda c: F.lit(False), self._m("expected string or buffer"),
                "PiiInvalid",
            )

        def pred(c):
            total = None
            for k in self.kinds:
                n = F.size(_kind_hits(c, k))
                total = n if total is None else total + n
            return total == 0

        def message(c):
            first = F.coalesce(*[
                F.when(F.size(_kind_hits(c, k)) > 0, F.lit(k))
                for k in self.kinds
            ])
            return F.concat(F.lit("contains PII ("), first, F.lit(")"))

        return _pred_check(
            pred, (lambda c: F.lit(self.msg)) if self.msg else message,
            "PiiInvalid",
        )


def pii_check_expr(text_col: str = "transcript", kinds=None):
    """PII gate as a message Column (NULL = clean) in the
    ``Schema.validate(extra_checks=...)`` contract — lets the flagship
    suite stamp transcript-PII violations inside the same single-scan
    select as the row schema and the PCM check."""
    if kinds is not None and not list(kinds):
        raise ValueError("kinds must be non-empty (or None for all)")
    kinds = list(kinds or PII_PATTERNS)
    c = F.coalesce(F.col(text_col), F.lit(""))
    first = F.coalesce(*[
        F.when(F.size(_kind_hits(c, k)) > 0, F.lit(k)) for k in kinds
    ])
    return F.when(
        first.isNotNull(),
        F.concat(F.lit("transcript contains PII ("), first, F.lit(")")),
    )
