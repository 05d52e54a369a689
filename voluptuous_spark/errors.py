"""Violation/error model for the PySpark validation engine.

Mirrors the reference error surface (voluptuous ``error.py:15-219``,
``humanize.py:10-57``) as *data* instead of exceptions:

- one row in a DataFrame may accumulate many violations (the reference's
  ``MultipleInvalid``, error.py:60-87) -> an array column of
  ``VIOLATION_SCHEMA`` structs, later exploded into a violations DataFrame;
- each violation carries ``(path, message, error_type, offending)``
  matching ``Invalid(msg, path, error_message, error_type)``
  (error.py:15-35);
- the rendered string form reproduces ``Invalid.__str__``
  (error.py:49-54): ``"<msg>[ for <error_type>] @ data['k'][0]"``;
- ``humanize`` reproduces ``humanize.py:43-48``:
  ``"<rendered>. Got <repr>"`` with the offending repr capped at
  MAX_VALIDATION_ERROR_ITEM_LENGTH = 500 (humanize.py:10).

The ~30 typed Invalid subclasses (error.py:90-219) become string values of
the ``error_type`` field; the exact class names are preserved so reports
diff cleanly against the reference.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

MAX_VALIDATION_ERROR_ITEM_LENGTH = 500  # humanize.py:10

# Exact reference class names (error.py:90-219). Kept as a frozen set so
# tests can assert every emitted error_type is a real reference type.
ERROR_TYPES = frozenset(
    {
        "Invalid",
        "MultipleInvalid",
        "RequiredFieldInvalid",
        "ObjectInvalid",
        "DictInvalid",
        "ExclusiveInvalid",
        "InclusiveInvalid",
        "SequenceTypeInvalid",
        "TypeInvalid",
        "ValueInvalid",
        "ContainsInvalid",
        "ScalarInvalid",
        "CoerceInvalid",
        "AnyInvalid",
        "AllInvalid",
        "MatchInvalid",
        "RangeInvalid",
        "TrueInvalid",
        "FalseInvalid",
        "BooleanInvalid",
        "UrlInvalid",
        "EmailInvalid",
        "FileInvalid",
        "DirInvalid",
        "PathInvalid",
        "LiteralInvalid",
        "LengthInvalid",
        "DatetimeInvalid",
        "DateInvalid",
        "InInvalid",
        "NotInInvalid",
        "ExactSequenceInvalid",
        "NotEnoughValid",
        "TooManyValid",
    }
)

# Schema of one violation (one reference ``Invalid``). ``error_type``
# holds the exception CLASS name (InInvalid, RangeInvalid, ...); ``ctx``
# holds the reference's ``Invalid.error_type`` CONTEXT string
# ('dictionary value' / 'object value', set by mapping compile at
# schema_builder.py:370 when the error is about the value itself), which
# feeds the rendered form "<msg> for <ctx> @ data[...]" (error.py:49-54).
VIOLATION_SCHEMA = StructType(
    [
        StructField("path", ArrayType(StringType()), True),
        StructField("message", StringType(), True),
        StructField("error_type", StringType(), True),
        StructField("offending", StringType(), True),
        StructField("ctx", StringType(), True),
    ]
)


def err_struct(message: Column | str, error_type: str) -> Column:
    """Build the *inner* (pre-path) error payload used by RowChecks.

    RowChecks produce ``null`` (valid) or ``struct<message, error_type>``;
    the schema compiler later wraps it with path + offending value.
    """
    msg = F.lit(message) if isinstance(message, str) else message
    return F.struct(msg.alias("message"), F.lit(error_type).alias("error_type"))


def truncate_repr(col: Column) -> Column:
    """Cap an offending-value repr at MAX_VALIDATION_ERROR_ITEM_LENGTH,
    appending the reference's '...' marker (humanize.py:44-47: the repr is
    cut to max-3 chars and '...' appended when it exceeds the cap)."""
    cap = MAX_VALIDATION_ERROR_ITEM_LENGTH
    return F.when(
        F.length(col) > cap,
        F.concat(F.substring(col, 1, cap - 3), F.lit("...")),
    ).otherwise(col)


def py_repr_col(col: Column, spark_type) -> Column:
    """Best-effort Python ``repr`` of a column value as a string Column.

    Matches what the reference prints in ``humanize_error``'s
    ``". Got %r"`` (humanize.py:43-48): strings get quotes, None -> 'None',
    numbers print plainly. Floats use Spark's shortest-roundtrip string,
    which equals Python repr for typical values.
    """
    t = spark_type.simpleString()
    if t == "string":
        quoted = F.concat(F.lit("'"), F.regexp_replace(col, "'", "\\\\'"), F.lit("'"))
        return F.when(col.isNull(), F.lit("None")).otherwise(quoted)
    if t == "boolean":
        return (
            F.when(col.isNull(), F.lit("None"))
            .when(col, F.lit("True"))
            .otherwise(F.lit("False"))
        )
    return F.when(col.isNull(), F.lit("None")).otherwise(col.cast("string"))


def render_violation(path: Column, message: Column, error_type: Column) -> Column:
    """Reproduce ``Invalid.__str__`` (error.py:49-54).

    ``"<msg>[ for <error_type>] @ data['k']['j']"`` — path components are
    repr'd; we store path components as pre-repr'd strings at compile time
    so this is a plain join.
    """
    # repr each component: int-like indexes stay bare, keys get quotes
    # (matches ``map(repr, self.path)`` for the str/int keys a DataFrame has)
    # int-like indexes and VirtualPathComponents ('<group>',
    # schema_builder.py:963-968) render bare; string keys get quotes
    # complex-Required group markers render as the inner Any's repr
    # (path + [marker], schema_builder.py:322 — e.g.
    # "Any('color', 'hue', msg=None)"), also bare
    # cheap string predicates instead of per-component regexes: this runs
    # once per path component per violation row (600k+ rows in the
    # flagship explode), and startswith/endswith/try_cast stay scalar
    # codegen ops where rlike pays regex-machinery cost
    reprd = F.transform(
        path,
        lambda p: F.when(
            p.try_cast("bigint").isNotNull()
            | (p.startswith("<") & p.endswith(">"))
            | (p.startswith("Any(") & p.endswith(")")), p
        ).otherwise(F.concat(F.lit("'"), p, F.lit("'"))),
    )
    path_part = F.when(
        F.size(path) > 0,
        F.concat(F.lit(" @ data["), F.array_join(reprd, "]["), F.lit("]")),
    ).otherwise(F.lit(""))
    type_part = F.when(
        error_type.isNotNull() & (error_type != F.lit("")),
        F.concat(F.lit(" for "), error_type),
    ).otherwise(F.lit(""))
    return F.concat(message, type_part, path_part)


def humanize(rendered: Column, offending: Column) -> Column:
    """``"%s. Got %s"`` (humanize.py:43-48)."""
    return F.format_string("%s. Got %s", rendered, F.coalesce(offending, F.lit("None")))
