"""Driver queries #4: corpus-curation operators under DuckDB oracles.

These register AFTER the 50 queries the driver gate hash-checks (the
gate reads the first 50 in registration order), so they don't displace
any graded cell — but `tools/check_oracles.py` verifies ALL entries, so
the four curation operators added this round carry the same local
rows+schema+value-hash evidence as the gated 50:

  - ``pii_scan``          pii.pii_counts over documents with
                          deterministically injected PII (emails on
                          doc_id%7, phone+card on doc_id%11); oracle
                          replays the regex match sets AND the Luhn
                          list-fold in SQL.
  - ``split_sample``      sampling.split_assign (md5 basis) 90/5/5 +
                          a 25% hash-sample keep flag; oracle replays
                          the md5-prefix threshold comparisons.
  - ``pack_windows``      packing.pack_assign (md5 basis) over
                          textops.token_count; oracle replays bucket
                          hash, hash-ordered exclusive running token
                          sum, and floor-division pack ids.
  - ``boilerplate_strip`` textops.remove_boilerplate over a banner-
                          augmented multi-line view of documents;
                          oracle replays line explode / per-source
                          line-DF / threshold / ordered reassembly.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from voluptuous_spark.pii import PII_PATTERNS


def _t(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# pii_scan


def _pii_scan(spark, sf_dir):
    from voluptuous_spark.pii import pii_counts

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.lit(" call 555-867-5309 or card 4111 1111 1111 1111"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_counts(d)


def _sql_quote_pat(p: str) -> str:
    return p.replace("'", "''")


_PII_ORACLE = r"""
    WITH base AS (
      SELECT doc_id,
             text ||
             CASE WHEN doc_id % 7 = 0
                  THEN ' contact user' || doc_id || '@example.com'
                  ELSE '' END ||
             CASE WHEN doc_id % 11 = 0
                  THEN ' call 555-867-5309 or card 4111 1111 1111 1111'
                  ELSE '' END AS t
      FROM documents
    ), c AS (
      SELECT doc_id,
        len(regexp_extract_all(t, '{email}')) AS email_count,
        len(regexp_extract_all(
              regexp_replace(t, '{card}', ' ', 'g'), '{phone}'))
          AS phone_count,
        len(regexp_extract_all(t, '{ssn}')) AS ssn_count,
        len(regexp_extract_all(t, '{ipv4}')) AS ipv4_count,
        len(list_filter(regexp_extract_all(t, '{card}'), cand ->
          length(regexp_replace(cand, '[ -]', '', 'g')) BETWEEN 13 AND 19
          AND list_sum(list_transform(
                list_reverse(list_transform(
                  list_filter(
                    string_split_regex(
                      regexp_replace(cand, '[ -]', '', 'g'), ''),
                    x -> x <> ''),
                  x -> CAST(x AS INT))),
                (d, i) -> CASE WHEN i % 2 = 0
                               THEN CASE WHEN d*2 > 9 THEN d*2 - 9
                                         ELSE d*2 END
                               ELSE d END)) % 10 = 0
        )) AS card_count
      FROM base
    )
    SELECT doc_id, email_count, phone_count, ssn_count, ipv4_count,
           card_count,
           email_count + phone_count + ssn_count + ipv4_count + card_count
             AS pii_total
    FROM c
""".format(**{k: _sql_quote_pat(v) for k, v in PII_PATTERNS.items()})


# ---------------------------------------------------------------------------
# split_sample


def _split_sample(spark, sf_dir):
    from voluptuous_spark.sampling import _hex_threshold, split_assign

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return split_assign(
        d, {"train": 0.9, "val": 0.05, "test": 0.05},
        salt="g", basis="md5",
    ).withColumn(
        "kept_quarter",
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":g2"))),
            1, 15,
        )
        < F.lit(_hex_threshold(0.25)),
    )


def _split_oracle() -> str:
    from voluptuous_spark.sampling import _hex_threshold

    t_train = _hex_threshold(0.9)
    t_val = _hex_threshold(0.95)
    t_quarter = _hex_threshold(0.25)
    return f"""
        SELECT doc_id,
               CASE WHEN substr(md5(doc_id::VARCHAR || ':g'), 1, 15)
                         < '{t_train}' THEN 'train'
                    WHEN substr(md5(doc_id::VARCHAR || ':g'), 1, 15)
                         < '{t_val}' THEN 'val'
                    ELSE 'test' END AS split,
               substr(md5(doc_id::VARCHAR || ':g2'), 1, 15)
                 < '{t_quarter}' AS kept_quarter
        FROM documents
    """


# ---------------------------------------------------------------------------
# pack_windows


def _pack_windows(spark, sf_dir):
    from voluptuous_spark.packing import pack_assign
    from voluptuous_spark.textops import token_count

    toks = token_count(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens"
    )
    return pack_assign(
        toks, budget=512, n_buckets=8, salt="p", basis="md5"
    )


_PACK_ORACLE = r"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN length(t) = 0 THEN 0
                  ELSE len(string_split(t, ' ')) END AS n_tokens
      FROM (SELECT doc_id,
                   lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
            FROM documents)
    ), b AS (
      SELECT doc_id, n_tokens,
             CAST(CAST(('0x' || substr(md5(doc_id::VARCHAR || ':p#b'),
                                       1, 8)) AS BIGINT) % 8 AS INT)
               AS pack_bucket,
             substr(md5(doc_id::VARCHAR || ':p'), 1, 15) AS h
      FROM toks
    )
    SELECT doc_id, n_tokens, pack_bucket,
           CAST(floor(coalesce(SUM(n_tokens) OVER
             (PARTITION BY pack_bucket ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / 512) AS INT) AS pack_id,
           CAST(row_number() OVER
             (PARTITION BY pack_bucket ORDER BY h, doc_id) AS INT)
             AS pack_pos
    FROM b
"""


# ---------------------------------------------------------------------------
# boilerplate_strip


def _pages(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.concat(
            F.lit("SITE BANNER "), F.col("source"), F.lit("\n"),
            F.regexp_replace(
                F.col("text"), r"((?:\S+\s+){5}\S+)\s+", "$1\n"
            ),
        ).alias("text"),
    )


def _boilerplate_strip(spark, sf_dir):
    from voluptuous_spark.textops import remove_boilerplate

    return remove_boilerplate(_pages(spark, sf_dir), min_frac=0.5).select(
        "doc_id", "text", "lines_removed"
    )


_BOILERPLATE_ORACLE = r"""
    WITH pages AS (
      SELECT doc_id, source,
             'SITE BANNER ' || source || chr(10) ||
             regexp_replace(text, '((?:\S+\s+){5}\S+)\s+',
                            '\1' || chr(10), 'g') AS text
      FROM documents
    ), lines AS (
      SELECT doc_id, source, s.x['pos'] AS pos,
             trim(s.x['line']) AS line
      FROM pages,
           LATERAL unnest(list_transform(
             string_split(text, chr(10)),
             (l, i) -> {'line': l, 'pos': i})) AS s(x)
      WHERE trim(s.x['line']) <> ''
    ), dfreq AS (
      SELECT source, line, COUNT(DISTINCT doc_id) AS df_docs
      FROM lines GROUP BY 1, 2
    ), src AS (
      SELECT source, COUNT(*) AS src_docs FROM pages GROUP BY 1
    ), flagged AS (
      SELECT l.*, (d.df_docs >= s.src_docs * 0.5 AND d.df_docs >= 2) AS bp
      FROM lines l
      JOIN dfreq d USING (source, line)
      JOIN src s USING (source)
    )
    SELECT p.doc_id,
           coalesce(string_agg(CASE WHEN NOT f.bp THEN f.line END,
                               chr(10) ORDER BY f.pos), '') AS text,
           CAST(coalesce(SUM(CASE WHEN f.bp THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS lines_removed
    FROM pages p LEFT JOIN flagged f USING (doc_id)
    GROUP BY p.doc_id
"""


EXTRA4_QUERIES = {
    "pii_scan": _pii_scan,
    "split_sample": _split_sample,
    "pack_windows": _pack_windows,
    "boilerplate_strip": _boilerplate_strip,
}

EXTRA4_ORACLES = {
    "pii_scan": _PII_ORACLE,
    "split_sample": _split_oracle(),
    "pack_windows": _PACK_ORACLE,
    "boilerplate_strip": _BOILERPLATE_ORACLE,
}
