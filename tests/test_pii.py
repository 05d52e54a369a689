"""PII detection / redaction operators (pii.py) — including DuckDB
regex-parity (both engines are RE2-class: identical match sets) and the
JVM-side Luhn fold vs a pure-Python reference."""

import duckdb
import pytest
from pyspark.sql import functions as F

from voluptuous_spark.pii import (
    PII_PATTERNS,
    luhn_valid,
    pii_counts,
    pii_report,
    redact_pii,
)

TEXTS = [
    (0, "contact me at alice@example.com or bob.smith+x@sub.domain.io"),
    (1, "call 555-867-5309 or +44 20 7946 0958 today"),
    (2, "ssn 123-45-6789 ip 192.168.0.1 bad ip 999.1.1.1"),
    (3, "card 4556 7375 8689 9855 fake 1234 5678 9012 3456"),
    (4, "clean text; version 1.2.3.4000 order 12345 date 22 08 2026"),
    (5, "visa 4111111111111111 and amex 378282246310005"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(TEXTS, "doc_id long, text string")


def test_counts(docs):
    rows = {r["doc_id"]: r for r in pii_counts(docs).collect()}
    assert rows[0]["email_count"] == 2
    assert rows[1]["phone_count"] == 2  # US form AND +44 international
    assert rows[2]["ssn_count"] == 1
    assert rows[2]["ipv4_count"] == 1  # 999.1.1.1 is NOT an address
    assert rows[3]["card_count"] == 1  # 1234... fails Luhn
    assert rows[3]["phone_count"] == 0  # card candidates don't double-fire
    assert rows[4]["pii_total"] == 0  # versions/dates/order ids clean
    assert rows[5]["card_count"] == 2  # unspaced 16- and 15-digit cards


def test_luhn_fold_matches_python(spark):
    def luhn_py(s):
        ds = [int(c) for c in s if c.isdigit()][::-1]
        return sum(d if i % 2 == 0 else (d * 2 - 9 if d * 2 > 9 else d * 2)
                   for i, d in enumerate(ds)) % 10 == 0

    cands = ["4556 7375 8689 9855", "4111111111111111", "378282246310005",
             "1234 5678 9012 3456", "4111111111111112", "0000000000000000"]
    df = spark.createDataFrame([(c,) for c in cands], "c string")
    got = {r["c"]: r["ok"] for r in
           df.select("c", luhn_valid(F.col("c")).alias("ok")).collect()}
    assert got == {c: luhn_py(c) for c in cands}


def test_redact_masks_everything(docs):
    red = {r["doc_id"]: r["text"] for r in redact_pii(docs).collect()}
    joined = " ".join(red.values())
    assert "alice@example.com" not in joined
    assert "555-867-5309" not in joined
    assert "7946" not in joined
    assert "123-45-6789" not in joined
    assert "192.168.0.1" not in joined
    assert "9855" not in joined
    # redaction masks card CANDIDATES even when Luhn fails (err toward
    # masking): the fake number is gone too
    assert "1234 5678 9012 3456" not in joined
    assert red[4] == TEXTS[4][1]  # clean doc untouched


def test_report_rollup(docs):
    r = pii_report(docs).collect()[0]
    assert r["n_docs"] == 6
    assert r["docs_with_pii"] == 5
    assert r["email_docs"] == 1 and r["email_matches"] == 2
    assert r["card_docs"] == 2 and r["card_matches"] == 3


def test_duckdb_regex_parity(docs):
    """Every pattern produces the IDENTICAL match list in DuckDB —
    the oracle-parity property the gate queries rely on."""
    con = duckdb.connect()
    for k, pat in PII_PATTERNS.items():
        spark_hits = {
            r["doc_id"]: r["h"]
            for r in docs.select(
                "doc_id",
                F.regexp_extract_all(
                    F.col("text"), F.lit(pat), 0
                ).alias("h"),
            ).collect()
        }
        for i, t in TEXTS:
            duck = con.execute(
                "select regexp_extract_all(?, ?)", [t, pat]
            ).fetchone()[0]
            assert duck == spark_hits[i], (k, i)


def test_no_shuffle_in_detection_plan(docs):
    """Detection rides the scan: no Exchange in the counts plan."""
    plan = pii_counts(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_piifree_schema_validator(spark, docs):
    """PiiFree composes with the Schema DSL: standard violation rows,
    standard messages, PiiInvalid error_type."""
    from voluptuous_spark import ALLOW_EXTRA, Schema
    from voluptuous_spark.pii import PiiFree

    res = Schema(
        {"text": PiiFree()}, extra=ALLOW_EXTRA
    ).validate(docs, id_cols=["doc_id"])
    rows = {r["doc_id"]: r for r in res.violations.collect()}
    assert set(rows) == {0, 1, 2, 3, 5}  # doc 4 is clean
    assert rows[0]["message"] == "contains PII (email)"
    assert rows[3]["message"] == "contains PII (card)"
    assert rows[0]["error_type"] == "PiiInvalid"
    assert rows[0]["path"] == ["text"]
    assert res.valid.count() == 1

    # restricted kinds: only ssn checked -> only doc 2 fails
    res2 = Schema(
        {"text": PiiFree(kinds=["ssn"])}, extra=ALLOW_EXTRA
    ).validate(docs, id_cols=["doc_id"])
    assert [r["doc_id"] for r in res2.violations.collect()] == [2]

    # custom message + unknown kind rejected
    res3 = Schema(
        {"text": PiiFree(kinds=["email"], msg="no emails please")},
        extra=ALLOW_EXTRA,
    ).validate(docs, id_cols=["doc_id"])
    assert res3.violations.collect()[0]["message"] == "no emails please"
    import pytest as _pytest
    with _pytest.raises(ValueError):
        PiiFree(kinds=["dna"])


def test_null_text_is_clean(spark):
    """NULL text counts as zero hits everywhere (size(NULL) must not
    poison pii_total or the violation filters)."""
    df = spark.createDataFrame(
        [(0, None), (1, "a@b.io")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in pii_counts(df).collect()}
    assert rows[0]["pii_total"] == 0
    assert rows[1]["email_count"] == 1
    assert rows[1]["pii_total"] == 1


def test_empty_kinds_rejected():
    import pytest as _pytest

    from voluptuous_spark.pii import PiiFree, pii_check_expr

    with _pytest.raises(ValueError, match="non-empty"):
        PiiFree(kinds=[])
    with _pytest.raises(ValueError, match="non-empty"):
        pii_check_expr(kinds=[])
