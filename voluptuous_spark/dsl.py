"""Voluptuous-style declarative schema DSL compiled to Catalyst columns.

Each validator here mirrors one operator of the reference
(``/root/reference/voluptuous/validators.py`` / ``util.py`` /
``schema_builder.py`` — cites in each docstring) but compiles to a
**vectorized Spark Column expression pair** instead of a per-value closure:

    RowCheck.out(col) -> Column   # transformed value (the reference RETURNS
                                  # a new value: validation is transformation)
    RowCheck.err(col) -> Column   # NULL when valid, else
                                  # struct<message string, error_type string>

so the whole-row validation of N fields × K validators is ONE ``select``
evaluated inside WholeStageCodegen — no per-row Python anywhere. Combinators
compose *expressions*: ``All`` threads each stage's transformed output into
the next (validators.py:385-411), ``Any`` is an ordered CASE chain
(validators.py:297-340).

Null semantics: a NULL cell is treated as "key absent" (a DataFrame row has
no way to omit a column). ``Required`` turns NULL into
``required key not provided`` (schema_builder.py:399-405); plain/Optional
keys skip validation of NULL cells. ``Maybe`` explicitly admits NULL.
"""

from __future__ import annotations

import enum
import re as _re
import typing

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .errors import VIOLATION_SCHEMA, err_struct, py_repr_col, truncate_repr

# populated by schema.py at import time (avoids a circular import):
# Schema instances used as value validators unwrap to their inner schema
SCHEMA_TYPES: tuple = ()

# ---------------------------------------------------------------------------
# extra-key policies (schema_builder.py:20-22)
PREVENT_EXTRA = 0
ALLOW_EXTRA = 1
REMOVE_EXTRA = 2


class UnsupportedSchema(ValueError):
    """Raised at compile time for semantics Spark cannot express."""


class RowCheck:
    """A compiled row-level validator over a single Column."""

    __slots__ = ("out", "err", "out_type", "drop_path", "multi",
                 "err_arr", "out_arr", "pystr_out", "err_pystr",
                 "identity_out", "static_fail", "elem_viols")

    _ERR_T = "struct<message:string,error_type:string>"
    _MULTI_T = "array<struct<message:string,error_type:string>>"

    def __init__(self, out, err, out_type: T.DataType | None = None,
                 drop_path: bool = False, multi=None):
        self.out = out  # Column -> Column
        # always typed: a bare lit(None) is VOID and breaks field extraction
        self.err = lambda c: err(c).cast(self._ERR_T)
        # optional multi-error channel (validators that accumulate a
        # MultipleInvalid with >1 entry per cell, e.g. Unordered,
        # validators.py:1099-1108): Column -> array of err structs,
        # NULL/empty = valid. The schema layer prefers it when present so
        # every accumulated error becomes its own violation row.
        self.multi = (
            (lambda c: multi(c).cast(self._MULTI_T))
            if multi is not None else None
        )
        self.out_type = out_type
        # reference _WithSubValidators combinators raise their own error
        # with an EMPTY path (no prepend through the compile hook,
        # schema_builder.py:217-218 + validators.py:286-294); the schema
        # layer emits path=[] for such checks to render identically
        self.drop_path = drop_path
        # array-mode evaluation (Column over array<elem> -> array of err
        # structs / array of outs): set ONLY when the check (or a nested
        # stage) is a Python UDF, which Spark cannot reference inside a
        # higher-order-function lambda (UNSUPPORTED_FEATURE.
        # LAMBDA_FUNCTION_WITH_PYTHON_UDF); ``_elem_verdicts`` zips its
        # arrays with the elements OUTSIDE the lambdas.
        self.err_arr = None
        self.out_arr = None
        # per-row Python-str threading (reference parity): a transform
        # that substitutes a PYTHON literal of a different type than the
        # column (Clamp's int bound over a float column,
        # validators.py:740-744) changes how downstream validators render
        # the value (str(4) vs str(4.0)). pystr_out(in_col, base_str_col)
        # -> string Column giving str() of out(in_col); err_pystr(col,
        # pystr_col) -> err struct rendered with the threaded str. Both
        # optional; All composes them, Msg forwards pystr_out.
        self.pystr_out = None
        self.err_pystr = None
        # True when out is the identity (pure predicate validators): a
        # threaded Python-str stays valid across such stages
        self.identity_out = False
        # True when the check REJECTS every cell at bind time (literal /
        # type / container check against a statically-mismatched column
        # type): combinators exclude such branches from output-type
        # unification — they can never be the passing branch
        self.static_fail = False
        # sequence checks only: Column over a list cell -> array of
        # violation structs with paths relative to the list
        self.elem_viols = None

    @staticmethod
    def passing(out_type=None):
        rc = RowCheck(lambda c: c, lambda c: F.lit(None), out_type)
        rc.identity_out = True
        return rc


def _identity_check(err, out_type=None, **kw):
    """RowCheck for a pure predicate validator (identity out)."""
    rc = RowCheck(lambda c: c, err, out_type, **kw)
    rc.identity_out = True
    return rc


def _err_arr_of(rc: "RowCheck"):
    """Array-mode err: rc's own lift when it carries a UDF, else a plain
    per-element transform (pure Column checks are legal inside lambdas)."""
    if rc.err_arr is not None:
        return rc.err_arr
    return lambda arr: F.transform(arr, rc.err)


def _out_arr_of(rc: "RowCheck"):
    if rc.out_arr is not None:
        return rc.out_arr
    return lambda arr: F.transform(arr, rc.out)


def _pred_check(pred, message, error_type, out=None, out_type=None):
    """RowCheck from a boolean predicate builder; identity transform."""

    def err(col):
        ok = pred(col)
        # a NULL predicate result means the comparison was against NULL ->
        # treat as failure (mirrors `not v >= min` raising on None)
        m = message(col) if callable(message) else F.lit(message)
        et = error_type(col) if callable(error_type) else F.lit(error_type)
        return F.when(ok, F.lit(None)).otherwise(
            F.struct(m.alias("message"), et.alias("error_type"))
        )

    rc = RowCheck(out or (lambda c: c), err, out_type)
    rc.identity_out = out is None
    return rc


# ---------------------------------------------------------------------------
# dtype helpers

_INTEGRALS = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONALS = (T.FloatType, T.DoubleType, T.DecimalType)


def _is_numeric(dt):
    return isinstance(dt, _INTEGRALS + _FRACTIONALS)


_PYTYPE_NAME = {str: "str", int: "int", float: "float", bool: "bool", bytes: "bytes"}


def _pytype_matches(pytype, dt) -> bool:
    if pytype is object:
        # isinstance(v, object) is always True (reference
        # schema_builder.py:789-796 via plain isinstance)
        return True
    if pytype is str:
        return isinstance(dt, T.StringType)
    if pytype is bool:
        return isinstance(dt, T.BooleanType)
    if pytype is int:
        return isinstance(dt, _INTEGRALS)
    if pytype is float:
        return isinstance(dt, _FRACTIONALS)
    if pytype is bytes:
        return isinstance(dt, T.BinaryType)
    return False


def _py_str(col, dt):
    """Python ``str(v)`` rendering of a column value (used in message
    interpolation like Equal's 'value:{} != target:{}'): scalars render
    via Spark's string cast, booleans as True/False, arrays as Python
    lists with repr'd string elements (str(['a']) == \"['a']\")."""
    if isinstance(dt, T.ArrayType):
        et = dt.elementType
        if isinstance(et, T.StringType):
            elems = F.transform(
                col, lambda x: F.concat(F.lit("'"), x, F.lit("'"))
            )
        elif isinstance(et, T.BooleanType):
            elems = F.transform(
                col,
                lambda x: F.when(x, F.lit("True")).otherwise(F.lit("False")),
            )
        else:
            elems = F.transform(col, lambda x: x.cast("string"))
        return F.concat(
            F.lit("["), F.array_join(elems, ", "), F.lit("]")
        )
    if isinstance(dt, T.StructType):
        # Python dict repr: {'a': 1, 'b': 'x'} (struct columns hold what
        # the reference sees as nested dicts)
        if not dt.fields:
            return F.lit("{}")
        parts: list = []
        for i, f in enumerate(dt.fields):
            head = "{'" if i == 0 else ", '"
            v = F.coalesce(
                _py_repr(col[f.name], f.dataType), F.lit("None")
            )
            parts += [F.lit(head + f.name + "': "), v]
        return F.concat(*(parts + [F.lit("}")]))
    if isinstance(dt, T.BooleanType):
        return F.when(col, F.lit("True")).otherwise(F.lit("False"))
    return col.cast("string")


def _py_repr(col, dt):
    """Python ``repr(v)`` rendering: like ``_py_str`` but strings carry
    quotes (container elements render with repr, str(['a']))."""
    if isinstance(dt, T.StringType):
        return F.concat(F.lit("'"), col, F.lit("'"))
    return _py_str(col, dt)


def _typed_lit(value, dt):
    """Build a literal Column of Spark type ``dt`` from a Python value —
    ``F.lit`` extended to dict->struct (field order taken from ``dt``)
    and element-typed arrays. Only call when ``_lit_comparable(value,
    dt)`` holds."""
    if isinstance(value, dict) and isinstance(dt, T.StructType):
        return F.struct(
            *[
                _typed_lit(value[f.name], f.dataType).alias(f.name)
                for f in dt.fields
            ]
        )
    if isinstance(value, (list, tuple)) and isinstance(dt, T.ArrayType):
        if not value:
            return F.lit([]).cast(dt)
        return F.array(*[_typed_lit(x, dt.elementType) for x in value])
    return F.lit(value)


def _lit_comparable(value, dt) -> bool:
    """Can ``value`` compare equal to a cell of Spark type ``dt`` under
    Python semantics?  Cross-type equality in Python is simply False
    (``50 in ['a']`` -> False, never an error), but Spark would either
    implicitly cast (``'5' = 5`` coerces, silently ACCEPTING what the
    reference rejects) or fail analysis (``array_contains(arr<string>,
    int)``).  Resolve the mismatch statically at bind time instead."""
    if value is None or dt is None:
        return True
    if isinstance(value, bool):
        return isinstance(dt, T.BooleanType)
    if isinstance(value, (int, float)):
        return _is_numeric(dt)
    if isinstance(value, str):
        return isinstance(dt, T.StringType)
    if isinstance(value, bytes):
        return isinstance(dt, T.BinaryType)
    if isinstance(value, (list, tuple)):
        return isinstance(dt, T.ArrayType) and all(
            _lit_comparable(x, dt.elementType) for x in value
        )
    if isinstance(value, dict):
        # dict literal vs struct column: comparable only when shapes
        # align (differing key sets are plain Python inequality -> the
        # caller degrades to a static False)
        return isinstance(dt, T.StructType) and set(value) == {
            f.name for f in dt.fields
        } and all(
            _lit_comparable(value[f.name], f.dataType) for f in dt.fields
        )
    if isinstance(value, type):
        # a CLASS as a comparison target (Equal(str)): never equal to a
        # data cell under Python semantics (tests.py test_equal)
        return False
    return True


# ---------------------------------------------------------------------------
# compile dispatch (reference `_compile_scalar`, schema_builder.py:770-818)


def compile_validator(v, dtype: T.DataType, path: tuple = ()) -> RowCheck:
    """Dispatch a schema node to a RowCheck, given the column's Spark type.

    Mirrors ``Schema._compile`` / ``_compile_scalar``
    (schema_builder.py:212-234, 770-818): Validator objects compile
    themselves, Python types become type checks, lists become sequence
    alternatives, anything else is an equality check
    (``'not a valid value'``, ScalarInvalid). ``path`` is the field's
    compile-time path, consumed by validators whose reference semantics
    embed rendered sub-error paths in their message (SomeOf).
    """
    if SCHEMA_TYPES and isinstance(v, SCHEMA_TYPES):
        # a Schema instance used as a value validator: unwrap to its
        # inner schema (the reference calls it; dict inners are handled
        # at the schema layer with re-entry path semantics)
        return compile_validator(v.schema, dtype, path=path)
    if isinstance(v, Validator):
        if getattr(v, "_wants_path", False):
            return v.bind(dtype, path=path)
        return v.bind(dtype)
    if isinstance(v, type) and issubclass(v, Validator):
        # the reference's case transformers are bare FUNCTIONS
        # (util.py:15-62) — Schema(Lower) means "apply", not
        # "isinstance-check"; zero-arg DSL classes used bare compile as
        # their instance
        try:
            inst = v()
        except TypeError:
            return _type_check(v, dtype)
        return compile_validator(inst, dtype, path=path)
    if isinstance(v, type):
        return _type_check(v, dtype)
    if isinstance(v, (list, tuple)):
        # tuples are sequences too (reference _compile_tuple,
        # schema_builder.py:635-646)
        return _sequence_check(list(v), dtype)
    if isinstance(v, (set, frozenset)):
        return _set_check(v, dtype)
    if isinstance(v, dict):
        # dict schemas compile at the Schema level (struct/map columns);
        # inside value combinators (Any({...}, {...})) they would need
        # per-branch struct validation — not expressible as a single
        # Column. Fail at compile time with a clear message instead of
        # emitting a bogus literal-equality check.
        raise UnsupportedSchema(
            "dict schemas are compiled at the Schema level (use a dict as "
            "the field's value in Schema({...}), or Any(dict, dict) "
            "directly as a field value); dicts nested inside other "
            "value combinators are not supported"
        )
    if callable(v):
        # 'callables are validators' (schema_builder.py:800-811): run
        # element-wise inside an Arrow batch — the reference contract
        # (return transformed value; ValueError -> 'not a valid value';
        # Invalid propagates its message/class). Slow path by nature;
        # for anything expressible as a Column, use a built-in.
        return CallableValidator(v).bind(dtype)
    # literal value -> equality (schema_builder.py:812-816); a literal of
    # a different Python type than the column never matches (Spark's
    # implicit string<->numeric cast would wrongly accept '5' for 5)
    if not _lit_comparable(v, dtype):
        rc = _pred_check(
            lambda c: F.lit(False), "not a valid value", "ScalarInvalid"
        )
        rc.static_fail = True
        return rc
    return _pred_check(
        lambda c: c.eqNullSafe(F.lit(v)), "not a valid value", "ScalarInvalid"
    )


def _type_check(pytype, dtype) -> RowCheck:
    """isinstance check (schema_builder.py:789-796): 'expected <T>'.

    Column types are static, so the check resolves at bind time: matching
    type passes every non-NULL cell; mismatched type fails every cell.
    """
    name = _PYTYPE_NAME.get(pytype, getattr(pytype, "__name__", str(pytype)))
    if _pytype_matches(pytype, dtype):
        rc = _pred_check(lambda c: c.isNotNull(), f"expected {name}",
                         "TypeInvalid")
    else:
        rc = _pred_check(lambda c: F.lit(False), f"expected {name}",
                         "TypeInvalid")
        rc.static_fail = True
    if pytype in (int, float) and _is_numeric(dtype):
        # per-row refinement when an upstream stage threads the Python
        # str of the CURRENT value: Clamp with an int bound substitutes
        # the BOUND OBJECT itself (validators.py:740-744), so
        # All(Clamp(2, 49), int) on 0.5 passes in the reference
        # (isinstance(2, int)) while an in-range 3.5 stays float and
        # fails — a decision the static column type cannot make. The
        # threaded repr distinguishes them exactly: Python int reprs
        # are bare digit runs, float reprs carry '.', 'e', 'nan'/'inf'.
        def _ok_pystr(c, s, want_int=(pytype is int)):
            is_int_repr = s.rlike("^-?[0-9]+$")
            return c.isNotNull() & (
                is_int_repr if want_int else ~is_int_repr)

        rc.err_pystr = lambda c, s: F.when(
            _ok_pystr(c, s), F.lit(None)
        ).otherwise(
            err_struct(f"expected {name}", "TypeInvalid")
        ).cast(RowCheck._ERR_T)
    return rc


def _elem_verdicts(col, checks, outs=()):
    """The one input of every element-wise rule (list, set, Unordered).
    Returns ``(z, val, err, out)``: ``z`` is the array the rule's lambdas
    iterate, ``val(s)`` the element at ``s``, and ``err(s, k)`` /
    ``out(s, k)`` check ``k``'s err / output for it. A pure check is
    evaluated on the element in place. A check that runs Python
    (``err_arr`` set) cannot be: Spark rejects a Python UDF inside a
    higher-order lambda (UNSUPPORTED_FEATURE.
    LAMBDA_FUNCTION_WITH_PYTHON_UDF) but takes UDF results as its
    arguments, so its Arrow-lifted err ``e<k>`` (and output ``o<k>`` for
    ``k`` in ``outs``) is zipped with the elements ``v`` OUTSIDE any
    lambda. Higher-order functions run interpreted and every struct array
    costs a pass of its own, so ``z`` is the bare element array unless
    there is a lifted array to zip; a rule that needs the element index
    takes it from ``F.transform``'s ``(s, i)`` lambda."""
    lifted = [k for k, ch in enumerate(checks) if ch.err_arr is not None]
    if not lifted:
        return (col, lambda s: s, lambda s, k: checks[k].err(s),
                lambda s, k: checks[k].out(s))
    z = F.arrays_zip(
        col.alias("v"),
        *[checks[k].err_arr(col).alias(f"e{k}") for k in lifted],
        *[checks[k].out_arr(col).alias(f"o{k}") for k in outs
          if k in lifted],
    )

    def err(s, k):
        return s[f"e{k}"] if k in lifted else checks[k].err(s["v"])

    def out(s, k):
        return s[f"o{k}"] if k in lifted else checks[k].out(s["v"])

    return z, lambda s: s["v"], err, out


def _first_match(err, s, ks, then, otherwise):
    """CASE over the checks ``ks`` in declaration order: ``then(k)`` for
    the first check that passes element ``s``, else ``otherwise``."""
    expr = otherwise
    for k in reversed(ks):
        expr = F.when(err(s, k).isNull(), then(k)).otherwise(expr)
    return expr


def _no_match(err, s, ks):
    """Element ``s`` passes none of the checks ``ks``."""
    ok = F.lit(False)
    for k in ks:
        ok = ok | err(s, k).isNull()
    return ~F.coalesce(ok, F.lit(False))


_VIOL_ARR_T = T.ArrayType(VIOLATION_SCHEMA)


def prefix_paths(viols, head):
    """``viols`` (array of violation structs) with every path prefixed
    by the string Columns ``head``."""
    if not head:
        return viols
    return F.transform(viols, lambda e: F.struct(
        F.concat(F.array(*head), e["path"]).alias("path"),
        *[e[f].alias(f) for f in VIOLATION_SCHEMA.fieldNames()[1:]],
    ))


def _sequence_check(alternatives, dtype) -> RowCheck:
    """Schema([alt1, alt2]) over an ArrayType column (reference
    ``_compile_sequence``, schema_builder.py:578-632): each element is
    tried against the alternatives IN DECLARATION ORDER; the first match
    decides — a keep alternative keeps (and transforms) the element, a
    Remove alternative drops it. An element claimed by an earlier keep
    alternative is kept even if a later Remove also matches
    ([1.0, Remove(float)] keeps the 1.0s, tests.py:215-223).

    Besides ``out`` / ``err`` the check carries ``elem_viols``: the
    violations of one list cell, paths relative to the list. A failing
    element gives one violation at ``[i]`` with the LAST keep
    alternative's error (the reference overwrites ``invalid`` per failed
    alternative and keeps the final one). Over nested lists the
    reference re-raises any error DEEPER than the element index
    (schema_builder.py:616-620): the first element whose inner list fails
    aborts with its inner errors (``[i, j, ...]``), and shallow errors of
    earlier elements are dropped.
    """
    if not isinstance(dtype, T.ArrayType):
        rc = _pred_check(
            lambda c: F.lit(False), "expected a list", "SequenceTypeInvalid"
        )
        rc.static_fail = True
        return rc
    elem_t = dtype.elementType
    checks = [
        compile_validator(a.schema if isinstance(a, Remove) else a, elem_t)
        for a in alternatives
    ]
    every = range(len(checks))
    keep_idx = [k for k in every if not isinstance(alternatives[k], Remove)]
    # output element type: transforming alternatives (Boolean, Coerce,
    # Lower, ...) replace matched elements with their output — one array
    # column must hold them all, so the keep alternatives' out types must
    # agree (the reference would build a mixed-type Python list, which has
    # no ArrayType carrier)
    out_elem_ts = [checks[k].out_type or elem_t for k in keep_idx]
    if len({t.simpleString() for t in out_elem_ts}) > 1:
        raise UnsupportedSchema(
            "sequence alternatives transform elements to different types "
            f"({[t.simpleString() for t in out_elem_ts]}); a mixed-type "
            "list is not representable as one array column"
        )
    out_elem_t = out_elem_ts[0] if out_elem_ts else elem_t
    transforms = out_elem_t.simpleString() != elem_t.simpleString()
    out_arr_t = T.ArrayType(out_elem_t, True) if transforms else dtype

    def out(col):
        z, v, e, o = _elem_verdicts(col, checks, outs=keep_idx)
        # non-matching elements are filtered out before the transform, so
        # the no-match fallback is dead — but it must still TYPE-unify
        # with the alternatives' outputs
        return F.transform(
            F.filter(z, lambda s: _first_match(
                e, s, every, lambda k: F.lit(k in keep_idx), F.lit(False))),
            lambda s: _first_match(
                e, s, keep_idx, lambda k: o(s, k),
                F.lit(None).cast(out_elem_t) if transforms else v(s)),
        )

    def err(col):
        z, _, e, _ = _elem_verdicts(col, checks)
        bad = F.exists(z, lambda s: _no_match(e, s, every))
        return F.when(
            col.isNull() | ~bad, F.lit(None)
        ).otherwise(err_struct("not a valid value", "ValueInvalid"))

    rc = RowCheck(out, err, out_arr_t)
    if (isinstance(elem_t, T.ArrayType) and len(keep_idx) == len(checks)
            and _viable_all_lists(alternatives, elem_t)):
        # only the FIRST list alternative is reachable for a non-null
        # element: its inner failure aborts before later ones are tried
        inner = checks[next(
            k for k in keep_idx if isinstance(alternatives[k], list))]
        rc.elem_viols = lambda col: _nested_viols(col, inner.elem_viols)
    else:
        def elem_viols(col):
            z, v, e, _ = _elem_verdicts(col, checks)

            def viol(s, i):
                last = (e(s, keep_idx[-1]) if keep_idx
                        else err_struct("not a valid value", "ValueInvalid"))
                return F.when(_no_match(e, s, every), F.struct(
                    F.array(i.cast("string")).alias("path"),
                    last["message"].alias("message"),
                    last["error_type"].alias("error_type"),
                    truncate_repr(py_repr_col(v(s), elem_t))
                    .alias("offending"),
                    F.lit(None).cast("string").alias("ctx"),
                ))

            return F.filter(F.transform(z, viol),
                            lambda v: v.isNotNull()).cast(_VIOL_ARR_T)

        rc.elem_viols = elem_viols
    return rc


def _nested_viols(col, inner_viols):
    """Violations of a list of lists under the reference's abort rule:
    the first element with inner errors yields only those (paths
    ``[i, j, ...]``); otherwise each NULL element is 'expected a list' at
    ``[i]``."""
    def per(x, i):
        at = i.cast("string")
        deep = F.when(x.isNotNull(), prefix_paths(inner_viols(x), [at]))
        shallow = F.when(x.isNull(), F.struct(
            F.array(at).alias("path"),
            F.lit("expected a list").alias("message"),
            F.lit("SequenceTypeInvalid").alias("error_type"),
            F.lit("None").alias("offending"),
            F.lit(None).cast("string").alias("ctx"),
        ))
        return F.struct(deep.alias("deep"), shallow.alias("shallow"))

    z = F.transform(col, per)
    deeps = F.filter(F.transform(z, lambda s: s["deep"]),
                     lambda a: F.coalesce(F.size(a) > 0, F.lit(False)))
    shallows = F.filter(F.transform(z, lambda s: s["shallow"]),
                        lambda v: v.isNotNull())
    return F.when(F.size(deeps) > 0, F.element_at(deeps, 1)).otherwise(
        shallows).cast(_VIOL_ARR_T)


def _viable_all_lists(alternatives, elem_t) -> bool:
    """Over an array<array<...>> column, scalar-literal alternatives can
    never match an ARRAY element (Python cross-type equality is False) —
    so ``Schema([[2, 3], 6])`` takes the nested-list rule exactly like
    ``Schema([[2, 3]])``: the list alternative alone decides, its deep
    inner errors abort (README.md 'matching is depth-first and
    fail-fast': 'not a valid value @ data[0][0]')."""
    viable = [
        a for a in alternatives
        if isinstance(a, (list, Validator, type)) or callable(a)
        or _lit_comparable(a, elem_t)
    ]
    return bool(viable) and all(isinstance(a, list) for a in viable)


def _set_check(schema, dtype) -> RowCheck:
    """Schema({alt1, alt2}) over an ArrayType column: every member must
    match >=1 alternative (reference ``_compile_set``,
    schema_builder.py:665-703). Spark has no SetType; an array column is
    the set's carrier, so members validate as-is (the reference iterates
    set members the same way). Messages mirror the reference exactly:
    'expected a set'/'expected a frozenset' when the value is not a set,
    'invalid value in set' per non-matching member."""
    type_name = type(schema).__name__  # 'set' or 'frozenset'
    if not isinstance(dtype, T.ArrayType):
        rc = _pred_check(
            lambda c: F.lit(False), f"expected a {type_name}", "Invalid"
        )
        rc.static_fail = True
        return rc
    checks = [compile_validator(s, dtype.elementType) for s in schema]
    every = range(len(checks))

    def err(col):
        z, _, e, _ = _elem_verdicts(col, checks)
        bad = F.exists(z, lambda s: _no_match(e, s, every))
        return F.when(col.isNull() | ~bad, F.lit(None)).otherwise(
            err_struct(f"invalid value in {type_name}", "Invalid")
        )

    return _identity_check(err, dtype)


# ---------------------------------------------------------------------------
# validator base


class Validator:
    """Base DSL node. Subclasses implement ``bind(dtype) -> RowCheck``."""

    msg: typing.Optional[str] = None

    def bind(self, dtype: T.DataType) -> RowCheck:  # pragma: no cover
        raise NotImplementedError

    def _m(self, default: str) -> str:
        return self.msg or default

    def __call__(self, value):
        """Direct single-value invocation like the reference's validators
        (``All(...)('x')``, validators are callables throughout
        validators.py) — wraps self in a Schema and rides the
        single-document path; needs an active SparkSession."""
        from .schema import Schema

        return Schema(self)(value)


# -- markers (schema_builder.py:971-1246) -----------------------------------


class Marker(Validator):
    """Wraps a key schema; carries msg/description
    (schema_builder.py:971-1015)."""

    def __init__(self, schema_, msg=None, description=None):
        self.schema = schema_
        self.msg = msg
        self.description = description

    def bind(self, dtype):
        return compile_validator(self.schema, dtype)

    def __str__(self):
        return str(self.schema)

    # introspection parity (schema_builder.py:1000-1015): a Marker
    # compares/sorts/hashes as its wrapped schema, so dicts keyed by
    # Required('x') answer .get('x') and marker lists sort alphabetically
    # (tests.py:419-426, 1132-1147, 1505-1506)
    def __repr__(self):
        return repr(self.schema)

    def __lt__(self, other):
        if isinstance(other, Marker):
            return self.schema < other.schema
        return self.schema < other

    def __eq__(self, other):
        return self.schema == other

    def __ne__(self, other):
        return not (self.schema == other)

    def __hash__(self):
        return hash(self.schema)


# sentinel for "no default" (schema_builder.py:29-38)
class _Undefined:
    def __bool__(self):
        return False

    def __repr__(self):
        return "..."

    # deepcopied schemas must keep the SAME sentinel so `default is
    # UNDEFINED` still holds (tests.py test_copy_dict_undefined; the
    # reference had the same bug class with copied Undefined instances)
    def __copy__(self):
        return self

    def __deepcopy__(self, memo):
        return self


UNDEFINED = _Undefined()


class Optional(Marker):
    """Key may be absent; optional default injected when missing
    (schema_builder.py:1018-1049)."""

    def __init__(self, schema_, msg=None, default=UNDEFINED, description=None):
        super().__init__(schema_, msg, description)
        self.default = default


class Required(Marker):
    """Key must be present: NULL cell -> 'required key not provided'
    (schema_builder.py:1155-1214, message at :399-405)."""

    def __init__(self, schema_, msg=None, default=UNDEFINED, description=None):
        super().__init__(schema_, msg, description)
        self.default = default


class Exclusive(Optional):
    """<=1 key of a named group may be present
    (schema_builder.py:1052-1096; check :536-553)."""

    def __init__(self, schema_, group_of_exclusion, msg=None, description=None):
        super().__init__(schema_, msg=msg, description=description)
        self.group_of_exclusion = group_of_exclusion


class Inclusive(Optional):
    """all-or-none of a named group (schema_builder.py:1099-1152;
    check :555-571). ``default`` injects when the WHOLE group is absent
    (tests.py:1644-1660); a partially-present group still errors because
    the group predicate counts RAW (pre-default) columns."""

    def __init__(self, schema_, group_of_inclusion, msg=None,
                 description=None, default=UNDEFINED):
        super().__init__(schema_, msg=msg, description=description,
                         default=default)
        self.group_of_inclusion = group_of_inclusion


class StaticKeyInvalid:
    """Compile-time marker for a column whose name failed a callable key
    schema (reference key candidates, schema_builder.py:770-818 applied
    to keys): every row with the column present gets this violation.
    Internal — produced by Schema._bind_fields, consumed by validate."""

    __slots__ = ("msg", "error_type")

    def __init__(self, msg, error_type):
        self.msg = msg
        self.error_type = error_type


class Remove(Marker):
    """Matching keys/values are dropped from output, never error
    (schema_builder.py:1217-1246). Unlike other Markers it hashes by
    object identity (schema_builder.py:1239), so ``{Remove('j'):
    int}.get('j')`` is None (tests.py:1146-1147)."""

    def __repr__(self):
        return "Remove(%r)" % (self.schema,)

    def __hash__(self):
        return object.__hash__(self)


class ConstantFail(Validator):
    """Always-fail node. Used by the single-document shim to reinstate
    container-type gates the typed array carrier erases — the reference's
    ``_compile_set`` only accepts a value of the schema's own set class
    ('expected a set' / 'expected a frozenset',
    schema_builder.py:672-678), a distinction a Spark array column
    cannot carry."""

    def __init__(self, message, error_type="Invalid"):
        self.message = message
        self.error_type = error_type

    def __repr__(self):
        return "ConstantFail(%r)" % (self.message,)

    def bind(self, dtype):
        return _pred_check(
            lambda c: F.lit(False), self.message, self.error_type
        )


class Msg(Validator):
    """Override error message of direct descendants
    (schema_builder.py:898-952)."""

    def __init__(self, schema_, msg, cls=None):
        if cls is not None and not isinstance(cls, str):
            from . import exceptions as er

            if not (isinstance(cls, type) and issubclass(cls, er.Invalid)):
                # construction-time gate, reference message verbatim
                # incl. its typo (schema_builder.py:932-935)
                raise er.SchemaError(
                    "Msg can only use subclases of Invalid as custom class"
                )
        self.schema = schema_
        self.msg = msg
        self.cls = cls  # error_type override (an error class NAME string)

    def __repr__(self):
        return 'Msg(%s, %s, cls=%s)' % (self.schema, self.msg, self.cls)

    def bind(self, dtype):
        inner = compile_validator(self.schema, dtype)
        et = self.cls if isinstance(self.cls, str) else (
            self.cls.__name__ if self.cls else None
        )

        def err(col):
            e = inner.err(col)
            return F.when(e.isNull(), F.lit(None)).otherwise(
                err_struct(self.msg, et) if et else
                F.struct(F.lit(self.msg).alias("message"),
                         e["error_type"].alias("error_type"))
            )

        rc = RowCheck(inner.out, err, inner.out_type)
        # a Msg-wrapped transform still substitutes the same values:
        # forward the per-row Python-str channel (the override replaces
        # messages, which never interpolate the threaded value)
        rc.pystr_out = inner.pystr_out
        return rc


class Extra(Validator):
    """Sentinel: allow undeclared keys (schema_builder.py:68-75)."""


extra = Extra()


# -- scalar validators (validators.py) ---------------------------------------


class Coerce(Validator):
    """``type(v)``; failure -> CoerceInvalid 'expected <T>'
    (validators.py:120-160). Spark: try_cast; NULL result on a non-NULL
    input is the violation, and the output column becomes the cast value.

    Note: string->int matches Python ``int(str)`` (no '24.5' truncation),
    enforced with a digits regex before the cast.
    """

    _INT_RE = r"^\s*[+-]?[0-9]+\s*$"
    _FLOAT_RE = r"^\s*[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?\s*$"

    def __init__(self, type_, msg=None):
        self.type = type_
        self.msg = msg

    def __repr__(self):
        # validators.py:159-160
        return 'Coerce(%s, msg=%r)' % (
            getattr(self.type, "__name__", str(self.type)), self.msg)

    def bind(self, dtype):
        import enum

        name = _PYTYPE_NAME.get(self.type, getattr(self.type, "__name__", "?"))
        message = self._m(f"expected {name}")
        if isinstance(self.type, type) and issubclass(self.type, enum.Enum):
            # Coerce(Enum) lists allowed values (validators.py:155-157);
            # table-scale output stays the raw value (a Row cannot hold
            # Enum members); the single-document root path yields the
            # member exactly like the reference (schema._call_scalar_doc)
            values = [e.value for e in self.type]
            if not self.msg:
                message = (
                    f"expected {name} or one of " + str(values)[1:-1]
                )
            return _pred_check(
                lambda c: c.isin(*[F.lit(v) for v in values]),
                message, "CoerceInvalid",
            )
        if self.type is int:
            target, out_t = "long", T.LongType()
        elif self.type is float:
            target, out_t = "double", T.DoubleType()
        elif self.type is str:
            target, out_t = "string", T.StringType()
        elif self.type is bool:
            target, out_t = "boolean", T.BooleanType()
        else:
            raise UnsupportedSchema(f"Coerce({name}) has no Spark cast")

        scalar_src = _is_numeric(dtype) or isinstance(
            dtype, (T.StringType, T.BooleanType)
        )
        if not scalar_src and self.type is bool:
            # Python bool(v) is plain truthiness for ANY type
            return RowCheck(
                lambda c: _truthy(c, dtype), lambda c: F.lit(None),
                T.BooleanType(),
            )
        if not scalar_src and self.type in (int, float):
            # int([...]) / float({...}) raise TypeError in the reference
            # -> CoerceInvalid (validators.py:152-157); Spark's try_cast
            # would fail analysis on array/map/struct sources instead
            return _pred_check(
                lambda c: F.lit(False), message, "CoerceInvalid"
            )

        is_str_src = isinstance(dtype, T.StringType)

        def out(col):
            if self.type is int and is_str_src:
                return F.when(col.rlike(self._INT_RE), col.try_cast("long"))
            if self.type is float and is_str_src:
                return F.when(col.rlike(self._FLOAT_RE), col.try_cast("double"))
            if self.type is int and isinstance(dtype, _FRACTIONALS):
                # Python int(24.7) truncates toward zero
                sign = F.when(col < 0, F.lit(-1)).otherwise(F.lit(1))
                return (F.floor(F.abs(col)) * sign).cast("long")
            return col.try_cast(target)

        def err(col):
            return F.when(
                col.isNull() | out(col).isNotNull(), F.lit(None)
            ).otherwise(err_struct(message, "CoerceInvalid"))

        return RowCheck(out, err, out_t)


def _truthy(col, dtype):
    if isinstance(dtype, T.BooleanType):
        return col
    if _is_numeric(dtype):
        return col != F.lit(0)
    if isinstance(dtype, T.StringType):
        return F.length(col) > 0
    if isinstance(dtype, (T.ArrayType, T.MapType)):
        return F.size(col) > 0
    if isinstance(dtype, T.BinaryType):
        return F.length(col) > 0
    return col.isNotNull()


class IsTrue(Validator):
    """Python-truthiness assertion (validators.py:163-188):
    'value was not true', TrueInvalid."""

    def bind(self, dtype):
        return _pred_check(
            lambda c: F.coalesce(_truthy(c, dtype), F.lit(False)),
            self._m("value was not true"),
            "TrueInvalid",
        )


class IsFalse(Validator):
    """'value was not false', FalseInvalid (validators.py:190-209)."""

    def bind(self, dtype):
        return _pred_check(
            lambda c: ~F.coalesce(_truthy(c, dtype), F.lit(True)),
            self._m("value was not false"),
            "FalseInvalid",
        )


class Boolean(Validator):
    """Parse '1/true/yes/on/enable' (+negatives) -> bool; else
    'expected boolean', BooleanInvalid (validators.py:212-240).
    Non-string values cast via truthiness."""

    _TRUE = ("1", "true", "yes", "on", "enable")
    _FALSE = ("0", "false", "no", "off", "disable")

    def __init__(self, msg=None):
        self.msg = msg

    def bind(self, dtype):
        if not isinstance(dtype, T.StringType):
            return RowCheck(lambda c: _truthy(c, dtype), lambda c: F.lit(None),
                            T.BooleanType())

        def out(col):
            low = F.lower(col)
            return (
                F.when(low.isin(*self._TRUE), F.lit(True))
                .when(low.isin(*self._FALSE), F.lit(False))
            )

        def err(col):
            low = F.lower(col)
            bad = ~low.isin(*(self._TRUE + self._FALSE))
            return F.when(col.isNull() | ~bad, F.lit(None)).otherwise(
                err_struct(self._m("expected boolean"), "BooleanInvalid")
            )

        return RowCheck(out, err, T.BooleanType())


class All(Validator):
    """Pipeline: each stage's *transformed output* feeds the next; first
    failing stage's error wins (validators.py:385-411). Alias: And."""

    def __init__(self, *validators, msg=None, required=False, **kwargs):
        # required/**kwargs: sub-schema compile flags threaded into dict
        # stages (reference _WithSubValidators.__init__,
        # validators.py:251-257)
        self.validators = validators
        self.msg = msg
        self.required = required

    def __repr__(self):
        # _WithSubValidators repr (validators.py:281-286)
        return '%s(%s, msg=%r)' % (
            self.__class__.__name__,
            ", ".join(repr(v) for v in self.validators),
            self.msg,
        )

    def bind(self, dtype):
        checks, in_ts, cur_t = [], [], dtype
        for v in self.validators:
            ch = compile_validator(v, cur_t)
            checks.append(ch)
            in_ts.append(cur_t)
            cur_t = ch.out_type or cur_t

        def out(col):
            cur = col
            for ch in checks:
                cur = ch.out(cur)
            return cur

        def _chain(col, cur_str=None):
            """Run the stage pipeline collecting per-stage errs, threading
            the per-row Python-str of the current value (see
            RowCheck.pystr_out): a stage without pystr_out invalidates the
            custom rendering (conservative — falls back to the column's
            own string form)."""
            cur, errs = col, []
            for ch, t_in in zip(checks, in_ts):
                if cur_str is not None and ch.err_pystr is not None:
                    errs.append(ch.err_pystr(cur, cur_str))
                else:
                    errs.append(ch.err(cur))
                if ch.pystr_out is not None:
                    base = cur_str if cur_str is not None else _py_str(cur, t_in)
                    cur_str = ch.pystr_out(cur, base)
                elif not ch.identity_out:
                    cur_str = None
                cur = ch.out(cur)
            return errs, cur_str

        def _err_of(errs):
            e = F.coalesce(*errs, F.lit(None).cast("struct<message:string,error_type:string>"))
            if self.msg:
                return F.when(e.isNull(), F.lit(None)).otherwise(
                    err_struct(self.msg, "AllInvalid")
                )
            return e

        def err(col):
            return _err_of(_chain(col)[0])

        rc = RowCheck(out, err, cur_t)
        rc.identity_out = all(ch.identity_out for ch in checks)
        rc.err_pystr = lambda c, s: _err_of(_chain(c, s)[0]).cast(RowCheck._ERR_T)
        # a live threaded str at chain end: some stage set one and every
        # later stage either composed it (pystr_out) or was identity
        live = False
        for ch in checks:
            if ch.pystr_out is not None:
                live = True
            elif not ch.identity_out:
                live = False
        if live:
            rc.pystr_out = lambda c, base: _chain(c, base)[1]
        if any(ch.err_arr is not None for ch in checks):
            # a stage is UDF-backed: compose the array-mode lift so the
            # sequence compiler can evaluate this All over a whole array
            # column without putting the UDF inside a lambda
            msg = self.msg

            def out_arr(arr):
                cur = arr
                for ch in checks:
                    cur = _out_arr_of(ch)(cur)
                return cur

            def err_arr(arr):
                cur, e_arrs = arr, []
                for ch in checks:
                    e_arrs.append(_err_arr_of(ch)(cur))
                    cur = _out_arr_of(ch)(cur)
                combined = e_arrs[0]
                for e2 in e_arrs[1:]:
                    combined = F.zip_with(
                        combined, e2, lambda a, b: F.coalesce(a, b))
                if msg:
                    combined = F.transform(
                        combined,
                        lambda e: F.when(e.isNull(), e).otherwise(
                            err_struct(msg, "AllInvalid")
                            .cast(RowCheck._ERR_T)),
                    )
                return combined

            rc.err_arr = err_arr
            rc.out_arr = out_arr
        return rc


And = All

# Spark's numeric widening chain: when Any's live branches output
# DIFFERENT numeric types, the union is still representable in one
# column as the widest member — cast-unify instead of degrading to
# identity (reference validators.py:322-336 threads the winning
# branch's value regardless; a 5 -> 5.0 widening is the closest a
# single-typed column can come). Non-numeric conflicts stay identity.
_NUMERIC_WIDENING = ("tinyint", "smallint", "int", "bigint", "float",
                     "double")


def _numeric_supertype(simple_strings, in_dtype):
    """LOSSLESS common supertype of the type names in ``simple_strings``
    (each a DataType.simpleString()), else None.

    All-integral unions widen to the widest integral. A union with a
    fractional member unifies to double — int32-and-below and float are
    exactly representable there — EXCEPT when a bigint branch carries
    values of exact-integer provenance (the input column is not
    float/double): casting such longs to double corrupts values above
    2^53, where the reference threads the exact int, so those unions
    degrade to validation-only identity instead. When the input column
    IS fractional, any bigint branch output was truncated FROM a double
    and is double-exact by construction, so the widening is safe."""
    ss = set(simple_strings)
    if not ss <= set(_NUMERIC_WIDENING):
        return None
    integral = _NUMERIC_WIDENING[:4]  # tinyint smallint int bigint
    if ss <= set(integral):
        return integral[max(integral.index(t) for t in ss)]
    if "bigint" in ss and in_dtype not in ("float", "double"):
        return None
    return "double"


class Any(Validator):
    """First validator that passes wins; none -> surface the losing
    branch's error per the reference's deepest-path rule
    (validators.py:322-336). Alias: Or.

    Deepest-error bookkeeping: the reference keeps the error with the
    strictly-longest path, so among same-depth errors the FIRST branch's
    error wins. Every alternative bound to one scalar column shares the
    path, so the surfaced error is exactly the first validator's error
    (message + error_type), not a generic AnyInvalid — matching e.g.
    ``Any(In(['a']), Match('x'))('z')`` raising InInvalid in the
    reference. ``msg=`` overrides with AnyInvalid(msg)
    (validators.py:334); zero validators -> 'no valid value found'.
    """

    error_type = "AnyInvalid"
    default_msg = "no valid value found"

    def __init__(self, *validators, msg=None, required=False, **kwargs):
        # required/**kwargs: sub-schema compile flags threaded into dict
        # branches (reference _WithSubValidators.__init__,
        # validators.py:251-257)
        self.validators = validators
        self.msg = msg
        self.required = required

    def __repr__(self):
        # _WithSubValidators repr (validators.py:281-286); Maybe(x) prints
        # as its reference expansion Any(None, x, ...) (tests.py:574)
        name = ("Any" if isinstance(self, Maybe)
                else self.__class__.__name__)
        vals = ((None,) + self.validators if isinstance(self, Maybe)
                else self.validators)
        return '%s(%s, msg=%r)' % (
            name, ", ".join(repr(v) for v in vals), self.msg)

    def bind(self, dtype):
        checks = [compile_validator(v, dtype) for v in self.validators]
        # branches that statically reject this column type can never be
        # the passing branch — exclude them from output-type unification
        # (Any('true', All(Any(int, bool), Coerce(bool))) over a bigint
        # column: the 'true' literal is dead, the live branch's bool
        # output threads through, reference validators.py:322-329)
        live = [ch for ch in checks if not ch.static_fail] or checks
        out_types = {(ch.out_type or dtype).simpleString() for ch in live}
        sup = (_numeric_supertype(out_types, dtype.simpleString())
               if len(out_types) > 1 else None)
        if len(out_types) > 1 and sup is None:
            # live branches disagree on output type with no common
            # numeric supertype; a Spark column has exactly one type, so
            # Any degrades to validation-only (identity out) —
            # documented divergence
            def out(col):
                return col

            out_t = dtype
        else:
            if sup is not None:
                # castable union: thread the winning branch's value
                # widened to the common supertype (int/double -> double)
                from pyspark.sql import types as _T

                out_t = {
                    "tinyint": _T.ByteType(), "smallint": _T.ShortType(),
                    "int": _T.IntegerType(), "bigint": _T.LongType(),
                    "float": _T.FloatType(), "double": _T.DoubleType(),
                }[sup]
            else:
                out_t = (live[0].out_type if live else None) or dtype

            def out(col):
                expr = F.lit(None).cast(out_t.simpleString())
                for ch in reversed(live):
                    val = (ch.out(col).cast(out_t.simpleString())
                           if sup is not None else ch.out(col))
                    expr = F.when(ch.err(col).isNull(), val).otherwise(expr)
                return expr

        def _err(col, pystr=None):
            ok = F.lit(False)
            for ch in checks:
                ok = ok | ch.err(col).isNull()
            if self.msg is not None:
                losing = err_struct(self.msg, self.error_type)
            elif checks:
                # all branches failed here, so the first branch's err
                # struct is non-null: reference raises that error verbatim
                # (rendered with the threaded Python-str when one is live)
                losing = (
                    checks[0].err_pystr(col, pystr)
                    if pystr is not None and checks[0].err_pystr is not None
                    else checks[0].err(col)
                )
            else:
                losing = err_struct(self.default_msg, self.error_type)
            return F.when(col.isNull() | ok, F.lit(None)).otherwise(losing)

        err = _err
        rc = RowCheck(out, err, out_t)
        rc.identity_out = (len(out_types) > 1 and sup is None) or all(
            ch.identity_out for ch in live
        )
        rc.err_pystr = lambda c, s: _err(c, s).cast(RowCheck._ERR_T)
        if any(ch.err_arr is not None for ch in checks):
            msg, etype, dmsg = self.msg, self.error_type, self.default_msg

            # UDF-result arrays are legal as higher-order-function
            # ARGUMENTS but not inside lambda bodies: zip value + branch
            # err/out arrays positionally, then transform with PURE
            # lambdas over the zipped struct fields
            def err_arr(arr):
                e_arrs = [_err_arr_of(ch)(arr) for ch in checks]
                z = F.arrays_zip(
                    arr.alias("v"),
                    *[ea.alias(f"e{k}") for k, ea in enumerate(e_arrs)],
                )

                def per(s):
                    ok = s["v"].isNull()
                    for k in range(len(e_arrs)):
                        ok = ok | s[f"e{k}"].isNull()
                    if msg is not None:
                        losing = err_struct(msg, etype)
                    elif e_arrs:
                        losing = s["e0"]
                    else:
                        losing = err_struct(dmsg, etype)
                    return F.when(
                        ok, F.lit(None).cast(RowCheck._ERR_T)
                    ).otherwise(losing.cast(RowCheck._ERR_T))

                return F.when(arr.isNotNull(), F.transform(z, per))

            rc.err_arr = err_arr
            # out follows the scalar rule: identity when branch out types
            # disagree with no numeric supertype, else first-passing
            # transform (cast-unified to the supertype when one exists)
            if len(out_types) > 1 and sup is None:
                rc.out_arr = lambda arr: arr
            else:
                def out_arr(arr):
                    e_arrs = [_err_arr_of(ch)(arr) for ch in live]
                    o_arrs = [_out_arr_of(ch)(arr) for ch in live]
                    z = F.arrays_zip(
                        arr.alias("v"),
                        *[ea.alias(f"e{k}")
                          for k, ea in enumerate(e_arrs)],
                        *[oa.alias(f"o{k}")
                          for k, oa in enumerate(o_arrs)],
                    )

                    def per(s):
                        expr = F.lit(None).cast(out_t.simpleString())
                        for k in reversed(range(len(live))):
                            val = (s[f"o{k}"].cast(out_t.simpleString())
                                   if sup is not None else s[f"o{k}"])
                            expr = F.when(
                                s[f"e{k}"].isNull(), val
                            ).otherwise(expr)
                        return expr

                    return F.when(arr.isNotNull(), F.transform(z, per))

                rc.out_arr = out_arr
        return rc


Or = Any


class Union(Any):
    """Any + discriminant pre-filter (validators.py:343-382). The
    discriminant is compile-time routing; at the column level the CASE
    chain already short-circuits, so semantics coincide with Any. The
    ``discriminant`` callable is accepted for API parity and used to
    prune candidate branches at compile time when it can be evaluated
    without a concrete value (reference signature:
    ``discriminant(value, validators) -> candidate validators``)."""

    def __init__(self, *validators, discriminant=None, msg=None):
        super().__init__(*validators, msg=msg)
        self.discriminant = discriminant


Switch = Union


class Maybe(Any):
    """Any(None, validator): NULL passes (validators.py:622-635).

    Failure message: Maybe compiles to ``Any(None, validator)``, and the
    reference's deepest-error rule keeps the FIRST branch's error among
    equal depths — the ``None`` literal comparison — so a failing
    non-null value surfaces ScalarInvalid 'not a valid value'
    (schema_builder.py:812-816), NOT the inner validator's message.
    """

    def __init__(self, validator, msg=None):
        super().__init__(validator, msg=msg)
        self._inner = validator

    def bind(self, dtype):
        inner = compile_validator(self._inner, dtype)

        def err(col):
            e = inner.err(col)
            base = F.when(col.isNull() | e.isNull(), F.lit(None)).otherwise(
                err_struct(
                    self.msg or "not a valid value",
                    "AnyInvalid" if self.msg else "ScalarInvalid",
                )
            )
            return base

        return RowCheck(
            lambda c: F.when(c.isNull(), F.lit(None)).otherwise(inner.out(c)),
            err,
            inner.out_type or dtype,
        )


def _re_inline_flags(flags: int) -> str:
    """Python re flags -> Java-regex inline-flag prefix for ``rlike``
    ((?i) etc.); UNICODE/ASCII have no Java analog and are dropped."""
    import re as _re

    s = "".join(
        ch for ch, f in (
            ("i", _re.IGNORECASE), ("m", _re.MULTILINE),
            ("s", _re.DOTALL), ("x", _re.VERBOSE),
        ) if flags & f
    )
    return "(?%s)" % s if s else ""


class Match(Validator):
    """Anchored regex ``re.match`` (validators.py:414-454):
    'does not match regular expression <pat>', MatchInvalid.
    rlike is a *search*, so the pattern is start-anchored to emulate match.
    Non-string column -> 'expected string or buffer'."""

    def __init__(self, pattern, msg=None):
        self.pattern = pattern if isinstance(pattern, str) else pattern.pattern
        # a precompiled re.Pattern carries flags (Match(re.compile(p,
        # re.I)), validators.py:441-444) — translate to Java inline flags
        self.flags = "" if isinstance(pattern, str) else _re_inline_flags(
            pattern.flags
        )
        self.msg = msg

    def __repr__(self):
        return 'Match(%r, msg=%r)' % (self.pattern, self.msg)

    def bind(self, dtype):
        if not isinstance(dtype, T.StringType):
            return _pred_check(
                lambda c: F.lit(False), "expected string or buffer", "MatchInvalid"
            )
        pat = self.pattern if self.pattern.startswith("^") else "^" + self.pattern
        pat = self.flags + pat
        default = f"does not match regular expression {self.pattern}"
        return _pred_check(
            lambda c: c.rlike(pat), self._m(default), "MatchInvalid"
        )


class Replace(Validator):
    """Regex substitution transform (validators.py:457-486)."""

    def __init__(self, pattern, substitution, msg=None):
        self.pattern = pattern if isinstance(pattern, str) else pattern.pattern
        self.flags = "" if isinstance(pattern, str) else _re_inline_flags(
            pattern.flags
        )
        self.substitution = substitution
        self.msg = msg

    def __repr__(self):
        return 'Replace(%r, %r, msg=%r)' % (
            self.pattern, self.substitution, self.msg)

    def bind(self, dtype):
        if not isinstance(dtype, T.StringType):
            # the reference CRASHES here (re.sub on a non-string raises a
            # raw TypeError, outside the Invalid model) — degrade to a
            # per-row violation instead of poisoning the whole plan with
            # an AnalysisException, so sibling columns still validate
            return _pred_check(
                lambda c: F.lit(False),
                self._m("expected string or buffer"),
                "Invalid",
            )
        return RowCheck(
            lambda c: F.regexp_replace(
                c, self.flags + self.pattern, self.substitution
            ),
            lambda c: F.lit(None),
            T.StringType(),
        )


# email regexes: same sources as the reference (validators.py:65-91),
# translated to Java-regex-safe form for rlike.
_EMAIL_USER_RE = (
    r"^[-!#$%&'*+/=?^_`{}|~0-9A-Za-z]+(\.[-!#$%&'*+/=?^_`{}|~0-9A-Za-z]+)*$"
)
_EMAIL_DOMAIN_RE = (
    r"^(?:[A-Za-z0-9](?:[A-Za-z0-9-]{0,61}[A-Za-z0-9])?\.)+"
    r"(?:[A-Za-z]{2,6}\.?|[A-Za-z0-9-]{2,}\.?)$"
)


class Email(Validator):
    """'expected an email address', EmailInvalid (validators.py:496-519).
    Splits on the LAST '@' (rsplit('@', 1)) then checks user/domain."""

    def bind(self, dtype):
        def pred(c):
            has_at = c.contains("@")
            user = F.regexp_extract(c, r"^(.*)@[^@]*$", 1)
            domain = F.substring_index(c, "@", -1)
            return (
                has_at
                & (F.length(user) > 0)
                & (F.length(domain) > 0)
                & user.rlike(_EMAIL_USER_RE)
                & domain.rlike(_EMAIL_DOMAIN_RE)
            )

        if not isinstance(dtype, T.StringType):
            return _pred_check(lambda c: F.lit(False),
                               self._m("expected an email address"), "EmailInvalid")
        return _pred_check(pred, self._m("expected an email address"), "EmailInvalid")


class Url(Validator):
    """urlparse: scheme + netloc required -> 'expected a URL', UrlInvalid
    (validators.py:541-555). Spark: parse_url PROTOCOL/HOST non-null."""

    default_msg = "expected a URL"

    def _ok(self, c):
        host = F.try_parse_url(c, F.lit("HOST"))
        return (
            F.try_parse_url(c, F.lit("PROTOCOL")).isNotNull()
            & host.isNotNull()
            & (F.length(host) > 0)
        )

    def bind(self, dtype):
        if not isinstance(dtype, T.StringType):
            return _pred_check(lambda c: F.lit(False), self._m(self.default_msg),
                               "UrlInvalid")
        return _pred_check(self._ok, self._m(self.default_msg), "UrlInvalid")


class FqdnUrl(Url):
    """Fqdn also requires '.' in netloc (validators.py:522-538):
    'expected a fully qualified domain name URL'."""

    default_msg = "expected a fully qualified domain name URL"

    def _ok(self, c):
        return super()._ok(c) & F.coalesce(
            F.try_parse_url(c, F.lit("HOST")).contains("."), F.lit(False)
        )


def _fmt_num(x):
    """Render a bound like Python '%s' does (1 -> '1', 1.5 -> '1.5')."""
    return str(x)


class Range(Validator):
    """Bounds check (validators.py:638-711). Messages:
    'value must be at least %s' / 'higher than' / 'at most' / 'lower than';
    unordered (NULL) -> 'invalid value or type (must have a partial
    ordering)'. NaN fails (`not v >= min` form, tests.py:661-663) — in
    Spark, comparisons with NaN follow different rules, so NaN is rejected
    explicitly."""

    def __init__(self, min=None, max=None, min_included=True, max_included=True,
                 msg=None):
        self.min, self.max = min, max
        self.min_included, self.max_included = min_included, max_included
        self.msg = msg

    def __repr__(self):
        return (
            'Range(min=%r, max=%r, min_included=%r, max_included=%r, '
            'msg=%r)' % (self.min, self.max, self.min_included,
                         self.max_included, self.msg)
        )

    def bind(self, dtype):
        is_float = isinstance(dtype, (T.FloatType, T.DoubleType))
        # cross-type comparison: the reference's `v >= min` raises
        # TypeError -> 'invalid value or type (must have a partial
        # ordering)' (validators.py:668-673, 694-700). Spark's ANSI cast
        # would instead throw at runtime, so resolve the mismatch
        # statically at bind time.
        bounds = [b for b in (self.min, self.max) if b is not None]
        num_bounds = all(
            isinstance(b, (int, float)) and not isinstance(b, bool)
            for b in bounds
        )
        str_bounds = all(isinstance(b, str) for b in bounds)
        comparable = not bounds or (
            (num_bounds and _is_numeric(dtype))
            or (str_bounds and isinstance(dtype, T.StringType))
        )
        if not comparable:
            return _pred_check(
                lambda c: F.lit(False),
                self._m(
                    "invalid value or type (must have a partial ordering)"
                ),
                "RangeInvalid",
            )

        def err(col):
            nan = F.isnan(col) if is_float else F.lit(False)
            e = F.when(
                col.isNull(),
                err_struct(
                    self._m("invalid value or type (must have a partial ordering)"),
                    "RangeInvalid",
                ),
            )
            if self.min is not None:
                if self.min_included:
                    bad = ~(col >= F.lit(self.min)) | nan
                    m = self._m(f"value must be at least {_fmt_num(self.min)}")
                else:
                    bad = ~(col > F.lit(self.min)) | nan
                    m = self._m(f"value must be higher than {_fmt_num(self.min)}")
                e = e.when(bad, err_struct(m, "RangeInvalid"))
            if self.max is not None:
                if self.max_included:
                    bad = ~(col <= F.lit(self.max)) | nan
                    m = self._m(f"value must be at most {_fmt_num(self.max)}")
                else:
                    bad = ~(col < F.lit(self.max)) | nan
                    m = self._m(f"value must be lower than {_fmt_num(self.max)}")
                e = e.when(bad, err_struct(m, "RangeInvalid"))
            return e.otherwise(F.lit(None))

        return _identity_check(err, dtype)


class Clamp(Validator):
    """Clip into range (transform) (validators.py:714-753)."""

    def __init__(self, min=None, max=None, msg=None):
        self.min, self.max = min, max
        self.msg = msg

    def __repr__(self):
        return 'Clamp(min=%s, max=%s)' % (self.min, self.max)

    def bind(self, dtype):
        # same bind-time comparability rule as Range: the reference's
        # `v < self.min` raises TypeError on cross-type comparison ->
        # RangeInvalid (validators.py:745-749); Spark's greatest/least
        # would fail analysis on string-vs-numeric instead
        bounds = [b for b in (self.min, self.max) if b is not None]
        num_bounds = all(
            isinstance(b, (int, float)) and not isinstance(b, bool)
            for b in bounds
        )
        str_bounds = all(isinstance(b, str) for b in bounds)
        comparable = not bounds or (
            (num_bounds and _is_numeric(dtype))
            or (str_bounds and isinstance(dtype, T.StringType))
        )
        if not comparable:
            return _pred_check(
                lambda c: F.lit(False),
                self._m(
                    "invalid value or type (must have a partial ordering)"
                ),
                "RangeInvalid",
            )

        def out(col):
            cur = col
            if self.min is not None:
                cur = F.greatest(cur, F.lit(self.min))
            if self.max is not None:
                cur = F.least(cur, F.lit(self.max))
            return cur

        def err(col):
            return F.when(
                col.isNotNull(), F.lit(None)
            ).otherwise(
                err_struct(
                    self._m("invalid value or type (must have a partial ordering)"),
                    "RangeInvalid",
                )
            )

        rc = RowCheck(out, err, dtype)
        if num_bounds and isinstance(dtype, _FRACTIONALS) and any(
            isinstance(b, int) and not isinstance(b, bool) for b in bounds
        ):
            # the reference substitutes the BOUND OBJECT itself
            # (validators.py:740-744): an int bound over a float value
            # makes downstream str(v) render '4', not '4.0' — thread the
            # per-row Python-str so e.g. a following Equal interpolates
            # the bound's own repr
            mn, mx = self.min, self.max

            def pystr_out(c, base):
                after_min = F.greatest(c, F.lit(mn)) if mn is not None else c
                e = base
                if mn is not None:
                    e = F.when(c < F.lit(mn), F.lit(str(mn))).otherwise(e)
                if mx is not None:
                    e = F.when(
                        after_min > F.lit(mx), F.lit(str(mx))
                    ).otherwise(e)
                return e

            rc.pystr_out = pystr_out
        return rc


class Length(Validator):
    """len(v) bounds (validators.py:756-786): 'length of value must be at
    least/at most %s', LengthInvalid. Strings/binary use length(); arrays
    and maps use size()."""

    def __init__(self, min=None, max=None, msg=None):
        self.min, self.max = min, max
        self.msg = msg

    def __repr__(self):
        return 'Length(min=%s, max=%s)' % (self.min, self.max)

    def bind(self, dtype):
        if isinstance(dtype, (T.ArrayType, T.MapType)):
            ln = F.size
        elif isinstance(dtype, (T.StringType, T.BinaryType)):
            ln = F.length
        else:
            # no len() for this type: the reference's len(v) raises
            # TypeError -> RangeInvalid 'invalid value or type'
            # (validators.py:779-781); Spark's length() would instead
            # implicitly cast numbers to strings (len(5) == 1)
            return _pred_check(
                lambda c: F.lit(False),
                self._m("invalid value or type"),
                "RangeInvalid",
            )

        def err(col):
            e = F.when(
                col.isNull(),
                err_struct(self._m("invalid value or type"), "RangeInvalid"),
            )
            if self.min is not None:
                e = e.when(
                    ~(ln(col) >= F.lit(self.min)),
                    err_struct(
                        self._m(f"length of value must be at least {self.min}"),
                        "LengthInvalid",
                    ),
                )
            if self.max is not None:
                e = e.when(
                    ~(ln(col) <= F.lit(self.max)),
                    err_struct(
                        self._m(f"length of value must be at most {self.max}"),
                        "LengthInvalid",
                    ),
                )
            return e.otherwise(F.lit(None))

        return _identity_check(err, dtype)


# Python-EXACT per-field regexes (CPython _strptime.TimeRE): strptime
# compiles its matcher with re.IGNORECASE, literal whitespace runs match
# \s+, and numeric fields accept 1-2 digits with range baked into the
# regex. %Y additionally excludes 0000 (datetime's year>=1 range check)
# and %S excludes 60/61 (the regex admits leap seconds but datetime()
# rejects them — net behavior is 0-59).
_STRPTIME_FIELD_RE = {
    "%Y": r"(?!0000)\d{4}",
    "%y": r"\d{2}",
    "%m": r"(?:1[0-2]|0[1-9]|[1-9])",
    "%d": r"(?:3[01]|[12]\d|0[1-9]|[1-9])",
    "%H": r"(?:2[0-3]|[01]\d|\d)",
    "%I": r"(?:1[0-2]|0[1-9]|[1-9])",
    "%M": r"(?:[0-5]\d|\d)",
    "%S": r"(?:[0-5]\d|\d)",
    "%f": r"\d{1,6}",
    "%j": r"(?:36[0-6]|3[0-5]\d|[12]\d{2}|0[1-9]\d|00[1-9]|[1-9]\d"
          r"|0[1-9]|[1-9])",
    "%p": r"(?:[AaPp][Mm])",
    # CPython: [+-]\d\d:?[0-5]\d(:?[0-5]\d(\.\d{1,6})?)?|(?-i:Z) — the
    # Z branch is case-SENSITIVE even under IGNORECASE (inline (?-i:)).
    # Narrowed to the values the CONVERTER also accepts, making this
    # regex the complete validation for %z: hour <24 (datetime rejects
    # |offset| >= 24h) and consistent colon usage ('Inconsistent use
    # of : in +00:0059').
    "%z": r"(?:[+-](?:2[0-3]|[01]\d)(?::[0-5]\d(?::[0-5]\d"
          r"(?:\.\d{1,6})?)?|[0-5]\d(?:[0-5]\d(?:\.\d{1,6})?)?)"
          r"|(?-i:Z))",
    "%b": r"(?:jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)",
    "%B": r"(?:january|february|march|april|may|june|july|august"
          r"|september|october|november|december)",
    "%%": "%",
}

_MONTH_ABBR = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
               "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
_MONTH_FULL = ["January", "February", "March", "April", "May", "June",
               "July", "August", "September", "October", "November",
               "December"]


def _strptime_directives(fmt: str) -> list:
    dirs, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            dirs.append(fmt[i: i + 2])
            i += 2
        else:
            i += 1
    return dirs


def _strptime_to_regex(fmt: str) -> str | None:
    """Python-exact shape regex for a strptime format: the gate before
    ``try_to_timestamp`` (Spark's datetime parse takes an exception-throw
    path on malformed input, ~2x slower than a regex reject on dirty
    columns) AND the COMPLETE validator for calendar-free formats (see
    ``_strptime_regex_complete``). Matches CPython's TimeRE semantics:
    case-insensitive, whitespace runs in the format match \\s+ in the
    value, numeric fields are 1-2 digit with Python's exact ranges.
    Returns None when the format has directives we can't shape-match
    (%z offsets — then no gate is applied)."""
    out, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            d = fmt[i: i + 2]
            if d in _STRPTIME_FIELD_RE:
                out.append(_STRPTIME_FIELD_RE[d])
                i += 2
                continue
            return None
        if fmt[i].isspace():
            out.append(r"\s+")
            while i < len(fmt) and fmt[i].isspace():
                i += 1
            continue
        out.append(_re.escape(fmt[i]))
        i += 1
    return "(?i)^" + "".join(out) + "$"


def _strptime_regex_complete(fmt: str) -> bool:
    """True when the Python-exact shape regex IS the full validation —
    no calendar arithmetic can reject a shape-valid value. Python only
    calendar-checks month-vs-day ("day is out of range for month"):
    %j OVERFLOWS into the next year (strptime('2023 366','%Y %j') is
    valid), time fields are pure range checks, and %d alone defaults to
    January (31 days). So unless a month directive (%m/%b/%B) AND %d
    both appear, rlike(shape) decides — skipping the JVM datetime parse
    entirely (faster on the pure-time formats AND exact where Spark's
    calendar parser would wrongly reject %j=366 in a non-leap default
    year)."""
    dirs = set(_strptime_directives(fmt))
    if not dirs <= set(_STRPTIME_FIELD_RE):
        return False
    return not (dirs & {"%m", "%b", "%B"} and "%d" in dirs)


# lenient single-letter forms: java.time parses 1-2 digits (matching
# Python's TimeRE), used when the directive is followed by a separator;
# fixed-width forms keep java's adjacent-value parsing working when two
# digit directives abut (%Y%m%d) — there Python's regex backtracking
# accepts unpadded forms java cannot, a documented divergence.
_SPARK_LENIENT = {
    "%Y": "yyyy", "%y": "yy", "%m": "M", "%d": "d", "%H": "H",
    "%I": "h", "%M": "m", "%S": "s", "%f": "SSSSSS", "%j": "D",
    "%z": "XX", "%p": "a", "%b": "MMM", "%B": "MMMM",
}
_SPARK_FIXED = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
    "%I": "hh", "%M": "mm", "%S": "ss", "%f": "SSSSSS", "%j": "DDD",
}


def _strptime_to_spark(fmt: str, upper_literals: bool = False) -> str:
    """Translate a Python strptime format to a Spark datetime pattern.

    ``upper_literals=True`` uppercases literal chunks — paired with
    parsing ``F.upper(col)``, this reproduces strptime's IGNORECASE
    matching ('2024-01-02t03:04z' passes the reference's default
    format). Whitespace runs collapse to a single space (the parse
    input is normalized the same way). Month names (%b/%B): java's
    MMM/MMMM only accepts title case, so ``Datetime._probe`` retitles
    the uppercased month tokens before the parse."""
    out, i, lit_buf = [], 0, []

    def flush():
        if lit_buf:
            chunk = _re.sub(r"\s+", " ", "".join(lit_buf))
            if upper_literals:
                chunk = chunk.upper()
            if _re.search(r"[A-Za-z]", chunk):
                out.append("'" + chunk.replace("'", "''") + "'")
            else:
                out.append(chunk)
            lit_buf.clear()

    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            d = fmt[i: i + 2]
            if d == "%%":
                lit_buf.append("%")
                i += 2
                continue
            if d in _SPARK_LENIENT:
                flush()
                nxt = fmt[i + 2: i + 4]
                prv = fmt[i - 2: i] if i >= 2 else ""
                if d in _SPARK_FIXED and (
                    nxt in _SPARK_FIXED or prv in _SPARK_FIXED
                ):
                    out.append(_SPARK_FIXED[d])  # digit-adjacent run
                else:
                    out.append(_SPARK_LENIENT[d])
                i += 2
                continue
        lit_buf.append(fmt[i])
        i += 1
    flush()
    return "".join(out)


class Datetime(Validator):
    """strptime parse check; value passes through UNCHANGED
    (validators.py:789-810): 'value does not match expected format %s',
    DatetimeInvalid. Default format '%Y-%m-%dT%H:%M:%S.%fZ'."""

    DEFAULT_FORMAT = "%Y-%m-%dT%H:%M:%S.%fZ"
    error_type = "DatetimeInvalid"

    def __init__(self, format=None, msg=None):
        self.format = format or self.DEFAULT_FORMAT
        self.msg = msg

    def __repr__(self):
        # Datetime/Date print their own class name (validators.py:809-828)
        return '%s(format=%s)' % (self.__class__.__name__, self.format)

    def _probe(self, col):
        fmt = self.format
        dirs = set(_strptime_directives(fmt))
        # strptime matches IGNORECASE; java literals/am-pm/month-names
        # are case-sensitive — parse the uppercased value against an
        # uppercased-literal pattern, then retitle month names (java
        # MMM/MMMM only accepts 'Jan'/'January'; the replacements are
        # case-sensitive over the already-uppercased value, so full
        # names are rewritten before their abbreviated prefix can hit)
        parse_col = F.upper(col)
        if "%B" in dirs:
            for name in _MONTH_FULL:
                parse_col = F.regexp_replace(
                    parse_col,
                    f"(?<![A-Z]){name.upper()}(?![A-Z])", name)
        if "%b" in dirs:
            for name in _MONTH_ABBR:
                parse_col = F.regexp_replace(
                    parse_col,
                    f"(?<![A-Z]){name.upper()}(?![A-Z])", name)
        if any(ch.isspace() for ch in fmt):
            # strptime: a whitespace run in the format matches \s+
            parse_col = F.regexp_replace(parse_col, r"\s+", " ")
        shape = _strptime_to_regex(fmt)
        parse_fmt = fmt
        if fmt.endswith("%z") and shape is not None:
            # the shape gate's %z regex IS the complete offset check
            # (hour<24, colon consistency, case-sensitive Z), so STRIP
            # the already-validated offset and parse the rest without
            # it — java's ZoneOffset caps at ±18:00 while Python allows
            # <24h, and java's XX can't take colon/seconds forms
            parse_col = F.regexp_replace(
                parse_col, _STRPTIME_FIELD_RE["%z"] + "$", "")
            parse_fmt = fmt[:-2]
        probe = F.try_to_timestamp(
            parse_col,
            F.lit(_strptime_to_spark(parse_fmt, upper_literals=True)),
        )
        if shape is None:
            return probe
        # cheap regex reject before the (exception-path) datetime parse
        return F.when(col.rlike(shape), probe)

    def bind(self, dtype):
        if isinstance(dtype, (T.TimestampType, T.DateType)):
            return RowCheck.passing(dtype)
        if not isinstance(dtype, T.StringType):
            # strptime of a non-string raises TypeError, which the
            # reference catches into the same format message
            # (validators.py:800-807)
            return _pred_check(
                lambda c: F.lit(False),
                self._m(
                    f"value does not match expected format {self.format}"
                ),
                self.error_type,
            )
        shape = _strptime_to_regex(self.format)
        if shape is not None and _strptime_regex_complete(self.format):
            # calendar-free format: the Python-exact shape regex IS the
            # validation — no JVM datetime parse at all (stays in
            # whole-stage codegen, exact on %j overflow semantics)
            return _pred_check(
                lambda c: c.rlike(shape),
                self._m(
                    f"value does not match expected format {self.format}"
                ),
                self.error_type,
            )
        return _pred_check(
            lambda c: self._probe(c).isNotNull(),
            self._m(f"value does not match expected format {self.format}"),
            self.error_type,
        )


class Date(Datetime):
    """Date variant, default '%Y-%m-%d' (validators.py:813-828)."""

    DEFAULT_FORMAT = "%Y-%m-%d"
    error_type = "DateInvalid"


def _sorted_repr(container):
    try:
        items = sorted(container)
    except TypeError:
        items = sorted(container, key=str)
    return repr(items)


class In(Validator):
    """Membership (validators.py:831-860):
    'value must be one of [sorted]', InInvalid."""

    def __init__(self, container, msg=None):
        self.container = list(container)
        self.msg = msg

    def __repr__(self):
        return 'In(%s)' % (self.container,)

    def bind(self, dtype):
        # only same-Python-type members can match (`5.0 in ['red']` is
        # False in Python; Spark's implicit cast would diverge)
        members = [m for m in self.container if _lit_comparable(m, dtype)]
        msg = self._m(f"value must be one of {_sorted_repr(self.container)}")
        if not members:
            return _pred_check(lambda c: F.lit(False), msg, "InInvalid")
        return _pred_check(lambda c: c.isin(*members), msg, "InInvalid")


class NotIn(Validator):
    """Anti-membership (validators.py:863-890):
    'value must not be one of [sorted]', NotInInvalid."""

    def __init__(self, container, msg=None):
        self.container = list(container)
        self.msg = msg

    def __repr__(self):
        return 'NotIn(%s)' % (self.container,)

    def bind(self, dtype):
        members = [m for m in self.container if _lit_comparable(m, dtype)]
        msg = self._m(
            f"value must not be one of {_sorted_repr(self.container)}"
        )
        if not members:
            # no member can equal a value of this type -> always passes
            # (`5.0 not in ['red']` is True in Python)
            return _pred_check(lambda c: F.lit(True), msg, "NotInInvalid")
        return _pred_check(
            lambda c: ~F.coalesce(c.isin(*members), F.lit(True)),
            msg,
            "NotInInvalid",
        )


class Contains(Validator):
    """Sequence must contain item (validators.py:893-917):
    'value is not allowed', ContainsInvalid."""

    def __init__(self, item, msg=None):
        self.item = item
        self.msg = msg

    def __repr__(self):
        return 'Contains(%s)' % (self.item,)

    def bind(self, dtype):
        msg = self._m("value is not allowed")
        if isinstance(dtype, T.ArrayType) and _lit_comparable(
            self.item, dtype.elementType
        ):
            return _pred_check(
                lambda c: F.array_contains(c, F.lit(self.item)),
                msg,
                "ContainsInvalid",
            )
        if isinstance(dtype, T.StringType) and isinstance(self.item, str):
            # Python `'a' in 'abc'` is a substring test
            return _pred_check(
                lambda c: c.contains(self.item), msg, "ContainsInvalid"
            )
        # item of a foreign type is never contained; non-sequence values
        # raise TypeError in the reference -> same ContainsInvalid
        # (validators.py:908-912)
        return _pred_check(lambda c: F.lit(False), msg, "ContainsInvalid")


class ExactSequence(Validator):
    """Positional element-wise match; length must equal
    (validators.py:920-956), ExactSequenceInvalid."""

    def __init__(self, validators, msg=None):
        self.validators = list(validators)
        self.msg = msg

    def __repr__(self):
        return 'ExactSequence([%s])' % ", ".join(
            repr(v) for v in self.validators)

    def bind(self, dtype):
        # shape errors raise ExactSequenceInvalid(self.msg) with msg=None
        # in the reference (validators.py:947-948), which str()-renders as
        # the literal 'None' — reproduce that exact rendering
        if not isinstance(dtype, T.ArrayType):
            return _pred_check(lambda c: F.lit(False),
                               self._m("None"), "ExactSequenceInvalid")
        elem_t = dtype.elementType
        checks = [compile_validator(v, elem_t) for v in self.validators]
        n = len(checks)

        def out(col):
            return F.array(
                *[ch.out(F.try_element_at(col, F.lit(i + 1))) for i, ch in enumerate(checks)]
            )

        def err(col):
            # first failing element's own error surfaces (the reference
            # re-raises the element validator's Invalid, e.g. 'expected
            # str', validators.py:941-953); length mismatch is the
            # sequence-level error. Scalar message/error_type chains on
            # purpose (struct built once at the top): struct-typed values
            # in nested CASE/coalesce chains trip a Janino codegen bug
            # ("isNull_N is not an rvalue") that drops the projection to
            # interpreted mode. Catalyst's SimplifyExtractValueOps pushes
            # the ["message"] extraction into the child CASE branches, so
            # these stay single-evaluation scalar chains.
            elem_errs = [
                ch.err(F.try_element_at(col, F.lit(i + 1)))
                for i, ch in enumerate(checks)
            ]
            msgs = [e["message"] for e in elem_errs]
            if checks:
                elem_msg = F.coalesce(*msgs)
                elem_et = None
                for m, e in zip(msgs, elem_errs):
                    et = e["error_type"]
                    elem_et = (F.when(m.isNotNull(), et) if elem_et is None
                               else elem_et.when(m.isNotNull(), et))
            else:
                elem_msg = F.lit(None).cast("string")
                elem_et = F.lit(None).cast("string")
            msg = (
                F.when(col.isNull(), F.lit(None).cast("string"))
                .when(F.size(col) != F.lit(n),
                      F.lit(self._m("None")))
                .otherwise(elem_msg)
            )
            et = (
                F.when(col.isNull() | (F.size(col) != F.lit(n)),
                       F.lit("ExactSequenceInvalid"))
                .otherwise(elem_et)
            )
            if self.msg:
                return F.when(msg.isNull(), F.lit(None).cast(
                    RowCheck._ERR_T
                )).otherwise(err_struct(self.msg, "ExactSequenceInvalid"))
            return F.when(msg.isNull(), F.lit(None).cast(
                RowCheck._ERR_T
            )).otherwise(
                F.struct(msg.alias("message"), et.alias("error_type"))
            )

        return RowCheck(out, err, dtype)


class Unique(Validator):
    """In-cell array has no duplicates (validators.py:959-1000):
    'contains duplicate items: [dupes]'. For TABLE-level uniqueness
    (e.g. clip_id over 10^12 rows) use checks.uniqueness instead."""

    def __init__(self, msg=None):
        self.msg = msg

    def __repr__(self):
        return 'Unique()'

    def bind(self, dtype):
        if isinstance(dtype, T.StringType):
            # reference supports strings as char iterables ('aabbc')
            def arr(c):
                return F.split(c, "")
        elif isinstance(dtype, T.ArrayType):
            if isinstance(
                dtype.elementType, (T.ArrayType, T.MapType, T.StructType)
            ):
                # container elements are unhashable in Python —
                # set([set(...), ...]) raises TypeError
                # (validators.py:989-992)
                inner = {
                    T.ArrayType: "list", T.MapType: "dict",
                }.get(type(dtype.elementType), "dict")
                return _pred_check(
                    lambda c: F.lit(False),
                    self._m("contains unhashable elements: "
                            f"unhashable type: '{inner}'"),
                    "TypeInvalid",
                )

            def arr(c):
                return c
        elif isinstance(dtype, T.MapType):
            # set(dict) iterates the (always-unique) keys: passes
            return _pred_check(lambda c: F.lit(True),
                               self._m("contains duplicate items: []"),
                               "Invalid")
        else:
            # set(5.0) raises TypeError -> the reference wraps the
            # Python message: "contains unhashable elements: '<T>'
            # object is not iterable" (validators.py:978-983)
            name = _PYTYPE_NAME.get(
                bool if isinstance(dtype, T.BooleanType)
                else int if isinstance(dtype, _INTEGRALS)
                else float if isinstance(dtype, _FRACTIONALS)
                else object,
                dtype.simpleString(),
            )
            return _pred_check(
                lambda c: F.lit(False),
                self._m(f"contains unhashable elements: "
                        f"'{name}' object is not iterable"),
                "TypeInvalid",
            )

        def err(col):
            a = arr(col)
            dupes = F.array_sort(
                F.array_distinct(
                    F.filter(
                        a,
                        lambda x: F.size(F.filter(a, lambda y: y.eqNullSafe(x))) > 1,
                    )
                )
            )
            has_dupes = F.size(a) != F.size(F.array_distinct(a))
            if self.msg:
                m = F.lit(self.msg)
            else:
                rendered = F.transform(
                    dupes,
                    lambda x: F.when(
                        F.lit(isinstance(dtype, T.StringType)
                              or (isinstance(dtype, T.ArrayType)
                                  and isinstance(dtype.elementType, T.StringType))),
                        F.concat(F.lit("'"), x.cast("string"), F.lit("'")),
                    ).otherwise(x.cast("string")),
                )
                m = F.concat(
                    F.lit("contains duplicate items: ["),
                    F.array_join(rendered, ", "),
                    F.lit("]"),
                )
            return F.when(col.isNull() | ~has_dupes, F.lit(None)).otherwise(
                F.struct(m.alias("message"), F.lit("Invalid").alias("error_type"))
            )

        return _identity_check(err, dtype)


class Equal(Validator):
    """Exact equality (validators.py:1003-1032):
    'Values are not equal: value:{} != target:{}'."""

    def __init__(self, target, msg=None):
        self.target = target
        self.msg = msg

    def __repr__(self):
        return 'Equal({})'.format(self.target)

    def bind(self, dtype):
        def _err(col, pystr=None):
            if _lit_comparable(self.target, dtype):
                ok = col.eqNullSafe(_typed_lit(self.target, dtype))
            else:
                # cross-type equality is False in Python; Spark's
                # implicit cast would wrongly accept '5' for 5
                ok = F.lit(False)
            if self.msg:
                m = F.lit(self.msg)
            else:
                m = F.format_string(
                    "Values are not equal: value:%s != target:%s",
                    pystr if pystr is not None else _py_str(col, dtype),
                    F.lit(str(self.target)),
                )
            return F.when(ok, F.lit(None)).otherwise(
                F.struct(m.alias("message"), F.lit("Invalid").alias("error_type"))
            )

        rc = RowCheck(lambda c: c, _err, dtype)
        rc.identity_out = True
        rc.err_pystr = lambda c, s: _err(c, s).cast(RowCheck._ERR_T)
        return rc


class Number(Validator):
    """Decimal precision/scale check on string-encoded numbers
    (validators.py:1116-1198). Messages: 'Precision must be equal to %s',
    'Scale must be equal to %s', 'Value must be a number enclosed with
    string'. precision/scale derived like Decimal.as_tuple(): leading
    zeros dropped, trailing fraction zeros kept."""

    _NUM_RE = r"^\s*[+-]?([0-9]+)?(\.([0-9]+))?([eE]([+-]?[0-9]+))?\s*$"

    def __init__(self, precision=None, scale=None, msg=None, yield_decimal=False):
        self.precision, self.scale = precision, scale
        self.msg = msg
        self.yield_decimal = yield_decimal

    def __repr__(self):
        return 'Number(precision=%s, scale=%s, msg=%s)' % (
            self.precision, self.scale, self.msg)

    def bind(self, dtype):
        if isinstance(dtype, (T.ArrayType, T.MapType, T.StructType)):
            # Decimal(list) raises ValueError (lists parse as the
            # sign-digits-exponent tuple form), which the callable
            # wrapper turns into ValueInvalid 'not a valid value'
            # (schema_builder.py:800-807) — the Number msg= does NOT
            # apply on this path
            return _pred_check(
                lambda c: F.lit(False), "not a valid value", "ValueInvalid"
            )

        def parts(col):
            s = F.trim(col.cast("string"))
            if isinstance(dtype, _FRACTIONALS):
                # float input: the reference feeds the FLOAT to Decimal()
                # — the exact binary value, so a dyadic 10.0 is
                # Decimal('10') (scale 0), not '10.0' (fuzz seed 5089).
                # Spark renders doubles with a trailing .0; strip it.
                # Non-dyadic floats (0.1 -> 55 exact digits) remain a
                # documented divergence — not representable in a 38-digit
                # Spark decimal.
                s = F.regexp_replace(s, r"\.0$", "")
            intp = F.regexp_extract(s, self._NUM_RE, 1)
            frac = F.regexp_extract(s, self._NUM_RE, 3)
            exp = F.regexp_extract(s, self._NUM_RE, 5)
            return s, intp, frac, exp

        def err(col):
            s, intp, frac, exp = parts(col)
            is_num = s.rlike(self._NUM_RE) & (
                (F.length(intp) > 0) | (F.length(frac) > 0)
            )
            # Decimal.as_tuple() semantics (validators.py:1182-1198):
            # precision = len(digits) with leading zeros dropped across
            # the WHOLE digit string (Decimal('0.05') -> digits (5,)),
            # scale = -exponent, so scientific notation shifts it
            # (Decimal('1e3') -> precision 1, scale -3)
            digits = F.regexp_replace(F.concat(intp, frac), "^0+", "")
            digits = F.when(F.length(digits) == 0, F.lit("0")).otherwise(digits)
            precision = F.length(digits)
            exp_i = F.coalesce(
                F.when(F.length(exp) > 0, exp.try_cast("int")), F.lit(0)
            )
            scale = F.length(frac) - exp_i
            e = F.when(col.isNull(), F.lit(None)).when(
                ~is_num,
                err_struct(
                    self._m("Value must be a number enclosed with string"), "Invalid"
                ),
            )
            if self.precision is not None and self.scale is not None:
                # both wrong -> combined message (validators.py:1150-1160,
                # note the AND: a single mismatch uses its own message)
                e = e.when(
                    (precision != F.lit(self.precision))
                    & (scale != F.lit(self.scale)),
                    err_struct(
                        self._m(
                            f"Precision must be equal to {self.precision}, "
                            f"and Scale must be equal to {self.scale}"
                        ),
                        "Invalid",
                    ),
                )
            if self.precision is not None:
                e = e.when(
                    precision != F.lit(self.precision),
                    err_struct(
                        self._m(f"Precision must be equal to {self.precision}"),
                        "Invalid",
                    ),
                )
            if self.scale is not None:
                e = e.when(
                    scale != F.lit(self.scale),
                    err_struct(
                        self._m(f"Scale must be equal to {self.scale}"), "Invalid"
                    ),
                )
            return e.otherwise(F.lit(None))

        if self.yield_decimal:
            if self.precision is not None and self.scale is not None:
                out_t = T.DecimalType(self.precision, self.scale)
            else:
                # no explicit precision/scale: the reference yields
                # Decimal(v) exactly (validators.py:1169-1173); the
                # widest general-purpose Spark decimal stands in —
                # equality with the mathematical value is preserved
                # (Decimal('12345678901234.000...') == 12345678901234)
                out_t = T.DecimalType(38, 18)
            out = lambda c: c.try_cast(out_t)  # noqa: E731
        else:
            out_t, out = dtype, lambda c: c  # noqa: E731
        return RowCheck(out, err, out_t)


class SomeOf(Validator):
    """Count of passing validators within [min_valid, max_valid]
    (validators.py:1201-1270); NotEnoughValid / TooManyValid; pipes the
    value through passing validators like All.

    Default message parity (validators.py:1255-1257): the reference joins
    the FULL ``str()`` of each failing sub-error — including its
    ``@ data[path]`` rendering, since sub-validators receive the field
    path — and raises NotEnoughValid/TooManyValid with an EMPTY own path
    (no prepend through the __voluptuous_compile__ hook). ``bind`` takes
    the compile-time path to reproduce that embedded rendering, and the
    RowCheck is marked ``drop_path`` so the schema layer emits path=[].
    """

    _wants_path = True

    def __init__(self, validators, min_valid=None, max_valid=None, msg=None):
        # exact reference assertion text (validators.py:1215-1218)
        assert min_valid is not None or max_valid is not None, (
            'when using "%s" you should specify at least one of min_valid '
            'and max_valid' % (type(self).__name__,)
        )
        self.validators = list(validators)
        self.min_valid = min_valid or 0
        self.max_valid = max_valid if max_valid is not None else len(self.validators)
        self.msg = msg

    def __repr__(self):
        return 'SomeOf(min_valid=%s, validators=[%s], max_valid=%s, msg=%r)' % (
            self.min_valid,
            ", ".join(repr(v) for v in self.validators),
            self.max_valid,
            self.msg,
        )

    def bind(self, dtype, path: tuple = ()):
        suffix = (
            " @ data" + "".join(f"[{p!r}]" for p in path) if path else ""
        )
        checks = [compile_validator(v, dtype) for v in self.validators]

        def thread(col):
            cur, errs = col, []
            for ch in checks:
                e = ch.err(cur)
                errs.append(e)
                cur = F.when(e.isNull(), ch.out(cur)).otherwise(cur)
            return cur, errs

        def out(col):
            return thread(col)[0]

        def err(col):
            _, errs = thread(col)
            passed = sum(
                (F.when(e.isNull(), 1).otherwise(0) for e in errs), F.lit(0)
            )
            ok = (passed >= F.lit(self.min_valid)) & (passed <= F.lit(self.max_valid))
            if self.msg:
                m = F.lit(self.msg)
            else:
                # ', '.join(str(e)) of failing sub-errors — each str()
                # carries the field path (validators.py:1255-1257)
                m = F.array_join(
                    F.filter(
                        F.array(*[
                            F.when(
                                e["message"].isNotNull(),
                                F.concat(e["message"], F.lit(suffix)),
                            )
                            for e in errs
                        ]),
                        lambda x: x.isNotNull(),
                    ),
                    ", ",
                )
            too_many = passed > F.lit(self.max_valid)
            return F.when(col.isNull() | ok, F.lit(None)).otherwise(
                F.struct(
                    m.alias("message"),
                    F.when(too_many, F.lit("TooManyValid"))
                    .otherwise(F.lit("NotEnoughValid"))
                    .alias("error_type"),
                )
            )

        return RowCheck(out, err, dtype, drop_path=True)


class Unordered(Validator):
    """Sequence matches validators in any order via greedy matching
    (validators.py:1035-1113).

    Greedy consumption is a LINEAR fold, not a combinatorial search: each
    element consumes the first not-yet-consumed validator it satisfies,
    so the whole check is one ``F.aggregate`` over the array carrying a
    consumed-validator bitmask — O(n^2) expressions (n validators tested
    per element), any n up to the 64-bit mask. (Round 1 expanded the
    consumption tree into nested CASEs, capping n at 4.)"""

    MAX_N = 64

    def __init__(self, validators, msg=None):
        self.validators = list(validators)
        self.msg = msg
        if len(self.validators) > self.MAX_N:
            raise UnsupportedSchema(
                f"Unordered supports up to {self.MAX_N} validators "
                "(consumed-set bitmask is a long)"
            )

    def __repr__(self):
        return 'Unordered([{}])'.format(
            ", ".join(repr(v) for v in self.validators))

    def bind(self, dtype):
        if not isinstance(dtype, T.ArrayType):
            # 'Value {} is not sequence!' (validators.py:1062)
            msg = self.msg or None
            return _pred_check(
                lambda c: F.lit(False),
                (lambda c: F.lit(msg)) if msg else (
                    lambda c: F.format_string(
                        "Value %s is not sequence!",
                        F.coalesce(c.cast("string"), F.lit("None")),
                    )
                ),
                "Invalid",
            )
        elem_t = dtype.elementType
        checks = [compile_validator(v, elem_t) for v in self.validators]
        n = len(checks)
        err_t = RowCheck._ERR_T

        def msgs(col):
            """All missing-element messages, element order, as
            array<string>; NULL = absent cell, empty = valid. One fold;
            the reference accumulates one Invalid per unmatched element
            into a MultipleInvalid (validators.py:1089-1108)."""
            len_ok = F.size(col) == F.lit(n)
            z, v, e, _ = _elem_verdicts(col, checks)

            def step(st, s):
                """One greedy step (validators.py:1072-1088): element
                ``s`` (index ``i``) consumes the FIRST not-yet-consumed
                validator it satisfies (``mask`` bit set); an element
                satisfying none is 'missing' and appends its message.
                Scalar index + mask + array-of-strings state on purpose:
                struct-typed values in nested CASE chains trip a Janino
                codegen bug ("isNull_N is not an rvalue"); err structs
                are built at the top."""
                mask = st["mask"]
                matched = F.lit(False)
                mask_expr = None
                for j in range(n):
                    ok = (
                        (mask.bitwiseAND(F.lit(1 << j)) == 0)
                        & e(s, j).isNull()
                    )
                    upd = mask.bitwiseOR(F.lit(1 << j))
                    mask_expr = (F.when(ok, upd) if mask_expr is None
                                 else mask_expr.when(ok, upd))
                    matched = matched | ok
                mask_expr = (mask_expr.otherwise(mask)
                             if mask_expr is not None else mask)
                # 'Element #{index} ({value}) is not valid against any
                # validator' (validators.py:1090-1100); str(value) form
                fail_msg = F.lit(self.msg) if self.msg else F.format_string(
                    "Element #%s (%s) is not valid against any validator",
                    st["i"].cast("string"),
                    F.coalesce(v(s).cast("string"), F.lit("None")),
                )
                return F.struct(
                    (st["i"] + 1).alias("i"),
                    mask_expr.cast("long").alias("mask"),
                    F.when(matched, st["msgs"])
                    .otherwise(F.array_append(st["msgs"], fail_msg))
                    .alias("msgs"),
                )

            folded = F.aggregate(
                z,
                F.struct(
                    F.lit(0).alias("i"),
                    F.lit(0).cast("long").alias("mask"),
                    F.array().cast("array<string>").alias("msgs"),
                ),
                step,
            )
            return (
                F.when(col.isNull(), F.lit(None).cast("array<string>"))
                .when(
                    ~len_ok,
                    F.array(F.format_string(
                        self.msg
                        or "List lengths differ, value:%s != target:"
                        + str(n),
                        F.size(col).cast("string"),
                    )),
                )
                .otherwise(folded["msgs"])
            )

        def as_structs(m):
            return F.transform(m, lambda s: F.struct(
                s.alias("message"), F.lit("Invalid").alias("error_type"),
            ))

        def err(col):
            first = F.try_element_at(msgs(col), F.lit(1))
            return F.when(
                first.isNull(), F.lit(None).cast(err_t)
            ).otherwise(F.struct(
                first.alias("message"),
                F.lit("Invalid").alias("error_type"),
            ))

        return _identity_check(err, dtype,
                        multi=lambda c: as_structs(msgs(c)))


# -- transformers (util.py:15-149) -------------------------------------------


class _Transform(Validator):
    """Case/whitespace transforms. The reference exposes these as bare
    FUNCTIONS (util.py:15-62): ``Lower(3) == '3'`` (tests.py:1570-1606).
    Calling the class WITH a value returns the transformed string
    directly; no-arg construction yields the Column-compiled validator
    used in schemas."""

    out_type = T.StringType()

    def __new__(cls, *args):
        if args:
            return cls._py(args[0])
        return super().__new__(cls)

    @staticmethod
    def _py(value):  # pragma: no cover - overridden per class
        raise NotImplementedError

    def _expr(self, col):  # pragma: no cover
        raise NotImplementedError

    def bind(self, dtype):
        def out(c):
            # the reference str()-casts ANY input first (util.py:15-62):
            # str(['a']).lower() == "['a']" — Python rendering, not
            # Spark's bare array cast ('[a]')
            base = c if isinstance(dtype, T.StringType) else _py_str(c, dtype)
            return self._expr(base)

        return RowCheck(out, lambda c: F.lit(None), self.out_type)


class Lower(_Transform):
    """util.py:15-23 (str-casts input first)."""

    @staticmethod
    def _py(value):
        return str(value).lower()

    def _expr(self, col):
        return F.lower(col.cast("string"))


class Upper(_Transform):
    """util.py:26-32."""

    @staticmethod
    def _py(value):
        return str(value).upper()

    def _expr(self, col):
        return F.upper(col.cast("string"))


class Capitalize(_Transform):
    """util.py:35-42: str.capitalize — first char upper, REST lower."""

    @staticmethod
    def _py(value):
        return str(value).capitalize()

    def _expr(self, col):
        s = col.cast("string")
        return F.concat(
            F.upper(F.substring(s, 1, 1)), F.lower(F.substring(s, 2, 2147483647))
        )


class Title(_Transform):
    """util.py:45-52: str.title.

    NOT ``initcap``: Python's ``str.title()`` uppercases a letter after
    ANY non-letter ('x@y.com' -> 'X@Y.Com', 'a1b' -> 'A1B'), while
    initcap only splits on whitespace (and Spark's also lowercases the
    rest — close but wrong at the boundaries). Replicated as a JVM-side
    character fold: uppercase a letter whose predecessor is not a letter,
    lowercase a letter whose predecessor is one, pass everything else
    through. Per-cell cost is linear in string length inside codegen —
    no Python."""

    @staticmethod
    def _py(value):
        return str(value).title()

    def _expr(self, col):
        s = col.cast("string")
        folded = F.aggregate(
            F.split(s, ""),
            F.struct(F.lit("").alias("acc"), F.lit("").alias("prev")),
            lambda a, c: F.struct(
                F.concat(
                    a["acc"],
                    F.when(a["prev"].rlike(r"\p{L}"), F.lower(c)).otherwise(
                        F.upper(c)
                    ),
                ).alias("acc"),
                c.alias("prev"),
            ),
            lambda a: a["acc"],
        )
        return F.when(s.isNull(), F.lit(None)).otherwise(folded)


class Strip(_Transform):
    """util.py:55-62: str.strip."""

    @staticmethod
    def _py(value):
        return str(value).strip()

    def _expr(self, col):
        return F.trim(col.cast("string"))


class DefaultTo(Validator):
    """None -> default (util.py:65-86)."""

    def __init__(self, default_value, msg=None):
        self.default_value = default_value
        self.msg = msg

    def bind(self, dtype):
        return RowCheck(
            lambda c: F.coalesce(c, F.lit(self.default_value)),
            lambda c: F.lit(None),
            dtype,
        )


class SetTo(Validator):
    """Unconditional overwrite (util.py:89-106)."""

    def __init__(self, value):
        self.value = value

    def bind(self, dtype):
        return RowCheck(lambda c: F.lit(self.value), lambda c: F.lit(None))


class Set(Validator):
    """list -> set (util.py:109-132): Spark keeps arrays; dedupe. The
    single-document path converts the result to a real Python set."""

    def __init__(self, msg=None):
        self.msg = msg

    def bind(self, dtype):
        return RowCheck(lambda c: F.array_distinct(c), lambda c: F.lit(None), dtype)


class Literal(Validator):
    """Deep equality (util.py:135-149): '%s not match for %s',
    LiteralInvalid."""

    def __init__(self, lit):
        self.lit = lit

    def bind(self, dtype):
        comparable = _lit_comparable(self.lit, dtype)

        def err(col):
            if comparable:
                ok = col.eqNullSafe(_typed_lit(self.lit, dtype))
            else:
                # shape/type mismatch is plain Python inequality
                # (util.py:141-146 catches its own Invalid) — degrade to
                # a static fail with the reference message
                ok = F.lit(False)
            m = F.format_string(
                "%s not match for " + str(self.lit).replace("%", "%%"),
                _py_str(col, dtype),
            )
            return F.when(ok, F.lit(None)).otherwise(
                F.struct(m.alias("message"), F.lit("LiteralInvalid").alias("error_type"))
            )

        out = (lambda c: _typed_lit(self.lit, dtype)) if comparable \
            else (lambda c: c)
        return RowCheck(out, err, dtype)


class PandasValidator(Validator):
    """Escape hatch mirroring the reference's 'callables are validators'
    (schema_builder.py:800-811), vectorized: fn receives a pandas.Series
    and returns (out_series, err_message_series_or_None). Runs as an
    Arrow-batched pandas UDF — the ONLY sanctioned Python in the row path."""

    def __init__(self, fn, out_type: T.DataType, msg=None,
                 error_type="ValueInvalid"):
        self.fn = fn
        self.out_type_ = out_type
        self.msg = msg
        self.error_type = error_type

    def bind(self, dtype):
        from pyspark.sql.functions import pandas_udf

        fn, msg = self.fn, self.msg
        res_t = T.StructType(
            [
                T.StructField("out", self.out_type_),
                T.StructField("emsg", T.StringType()),
            ]
        )

        @pandas_udf(res_t)
        def _udf(s: pd.Series) -> pd.DataFrame:
            out, emsg = fn(s)
            if emsg is None:
                emsg = pd.Series([None] * len(s), dtype="object")
            return pd.DataFrame({"out": out, "emsg": emsg})

        def out(col):
            return _udf(col)["out"]

        def err(col):
            e = _udf(col)["emsg"]
            return F.when(col.isNull() | e.isNull(), F.lit(None)).otherwise(
                F.struct(
                    (F.lit(msg) if msg else e).alias("message"),
                    F.lit(self.error_type).alias("error_type"),
                )
            )

        return RowCheck(out, err, self.out_type_)


class CallableValidator(Validator):
    """A per-value Python callable with reference semantics ('callables are
    validators', schema_builder.py:800-811), executed element-wise INSIDE an
    Arrow batch (one pandas UDF per column, never row-at-a-time Spark
    Python). ``fn`` follows the reference contract: return the (possibly
    transformed) value, raise ``ValueError`` / ``exceptions.Invalid`` to
    reject. With ``truth_mode`` (the ``truth`` decorator,
    validators.py:97-117) a falsy return rejects and the value passes
    through unchanged.

    This is the slow path — use it only for semantics no Column expression
    can express (e.g. filesystem probes). The Arrow transfer keeps it off
    Spark's per-row Python path, but the inner loop is Python.
    """

    def __init__(self, fn, msg=None, error_type="ValueInvalid",
                 truth_mode=False, out_type: T.DataType | None = None):
        self.fn = fn
        self.msg = msg
        self.error_type = error_type
        self.truth_mode = truth_mode
        self.out_type_ = out_type

    def bind(self, dtype):
        from pyspark.sql.functions import pandas_udf

        from . import exceptions as er

        fn = self.fn
        truth_mode = self.truth_mode
        # bare-callable ValueError -> 'not a valid value'
        # (schema_builder.py:805-806); the message decorator passes its
        # own 'invalid value' default explicitly (:1294-1295)
        default_msg = self.msg or "not a valid value"
        error_type = self.error_type
        out_t = self.out_type_ or dtype
        res_t = T.StructType(
            [
                T.StructField("out", out_t),
                T.StructField("emsg", T.StringType()),
                T.StructField("etype", T.StringType()),
            ]
        )

        @pandas_udf(res_t)
        def _udf(s: pd.Series) -> pd.DataFrame:
            outs, emsgs, etypes = [], [], []
            for v in s:
                try:
                    r = fn(v)
                    if truth_mode:
                        outs.append(v)
                        emsgs.append(None if r else default_msg)
                    else:
                        outs.append(r)
                        emsgs.append(None)
                    etypes.append(None)
                except (ValueError, TypeError):
                    outs.append(v if truth_mode else None)
                    emsgs.append(default_msg)
                    etypes.append(None)
                except er.Invalid as e:
                    # a raised Invalid keeps its own message AND class
                    # (schema_builder.py:807-810 re-raises it unchanged)
                    outs.append(v if truth_mode else None)
                    emsgs.append(e.msg)
                    etypes.append(type(e).__name__)
            return pd.DataFrame(
                {
                    "out": outs,
                    "emsg": pd.Series(emsgs, dtype="object"),
                    "etype": pd.Series(etypes, dtype="object"),
                }
            )

        def out(col):
            return _udf(col)["out"]

        def err(col):
            r = _udf(col)
            e = r["emsg"]
            return F.when(col.isNull() | e.isNull(), F.lit(None)).otherwise(
                F.struct(
                    e.alias("message"),
                    F.coalesce(r["etype"], F.lit(error_type))
                    .alias("error_type"),
                )
            )

        rc = RowCheck(out, err, out_t)

        # array-mode lift: Spark rejects Python UDFs inside higher-order
        # lambdas, so when this callable validates SEQUENCE ELEMENTS the
        # whole per-element loop runs inside ONE Arrow batch over the
        # array column (same reference semantics, one UDF per row-batch)
        arr_res_t = T.StructType([
            T.StructField("out", T.ArrayType(out_t)),
            T.StructField("emsg", T.ArrayType(T.StringType())),
            T.StructField("etype", T.ArrayType(T.StringType())),
        ])

        @pandas_udf(arr_res_t)
        def _arr_udf(s: pd.Series) -> pd.DataFrame:
            outs, emsgs, etypes = [], [], []
            for lst in s:
                if lst is None:
                    outs.append(None)
                    emsgs.append(None)
                    etypes.append(None)
                    continue
                o, m, t = [], [], []
                for v in lst:
                    if v is None:  # NULL element passes (scalar parity)
                        o.append(None)
                        m.append(None)
                        t.append(None)
                        continue
                    try:
                        r = fn(v)
                        if truth_mode:
                            o.append(v)
                            m.append(None if r else default_msg)
                        else:
                            o.append(r)
                            m.append(None)
                        t.append(None)
                    except (ValueError, TypeError):
                        o.append(v if truth_mode else None)
                        m.append(default_msg)
                        t.append(None)
                    except er.Invalid as e:
                        o.append(v if truth_mode else None)
                        m.append(e.msg)
                        t.append(type(e).__name__)
                outs.append(o)
                emsgs.append(m)
                etypes.append(t)
            return pd.DataFrame({
                "out": pd.Series(outs, dtype="object"),
                "emsg": pd.Series(emsgs, dtype="object"),
                "etype": pd.Series(etypes, dtype="object"),
            })

        err_t = RowCheck._ERR_T

        def err_arr(arr):
            r = _arr_udf(arr)
            return F.zip_with(
                r["emsg"], r["etype"],
                lambda m, t: F.when(
                    m.isNull(), F.lit(None).cast(err_t)
                ).otherwise(F.struct(
                    m.alias("message"),
                    F.coalesce(t, F.lit(error_type)).alias("error_type"),
                )),
            )

        rc.err_arr = err_arr
        rc.out_arr = lambda arr: _arr_udf(arr)["out"]
        return rc


def truth(fn, msg=None):
    """Decorator: bool-returning per-value fn -> validator
    (validators.py:97-117). Returns a CallableValidator usable directly as
    a schema node."""
    return CallableValidator(fn, msg=msg, truth_mode=True)


def message(default=None, cls=None):
    """Decorator to give a custom per-value validator function a default
    message and Invalid subclass (schema_builder.py:1249-1301). The
    decorated name becomes a factory: ``isint()`` or
    ``isint('bad', clsoverride=...)`` yields a schema node."""
    from . import exceptions as er

    if cls and not issubclass(cls, er.Invalid):
        raise er.SchemaError(
            "message can only use subclases of Invalid as custom class"
        )

    def decorator(f):
        def check(msg=None, clsoverride=None):
            et = (clsoverride or cls or er.ValueInvalid).__name__
            base = f
            # unwrap a @truth-wrapped fn to keep truth semantics
            if isinstance(base, CallableValidator):
                return CallableValidator(
                    base.fn, msg=msg or default or base.msg,
                    error_type=et, truth_mode=base.truth_mode,
                    out_type=base.out_type_,
                )
            return CallableValidator(
                base, msg=msg or default or "invalid value", error_type=et
            )

        return check

    return decorator


def _path_probe(probe_name):
    """Shared impl for IsFile/IsDir/PathExists (validators.py:558-619):
    an os.path probe per value — necessarily Python, run Arrow-batched in
    the worker. At cluster scale these see the EXECUTOR's filesystem; they
    exist for reference parity and driver-side/local use."""
    import os

    probe = {"isfile": os.path.isfile, "isdir": os.path.isdir,
             "exists": os.path.exists}[probe_name]

    def fn(v):
        if not v:
            raise ValueError
        return probe(str(v))

    return fn


class IsFile(CallableValidator):
    """'Not a file' / FileInvalid (validators.py:558-575)."""

    def __init__(self, msg=None):
        super().__init__(_path_probe("isfile"), msg=msg or "Not a file",
                         error_type="FileInvalid", truth_mode=True)


class IsDir(CallableValidator):
    """'Not a directory' / DirInvalid (validators.py:578-594)."""

    def __init__(self, msg=None):
        super().__init__(_path_probe("isdir"), msg=msg or "Not a directory",
                         error_type="DirInvalid", truth_mode=True)


class PathExists(CallableValidator):
    """'path does not exist' / PathInvalid (validators.py:597-616)."""

    def __init__(self, msg=None):
        super().__init__(_path_probe("exists"),
                         msg=msg or "path does not exist",
                         error_type="PathInvalid", truth_mode=True)


# -- explicit-None semantics (single-document mode) --------------------------
#
# In column land NULL means "key absent" (the engine-wide table rule: a
# DataFrame cell cannot distinguish a missing key from an explicit null).
# The single-document path CAN distinguish them — the Python dict is right
# there — so Schema.__call__ resolves explicit-None values driver-side with
# the reference's exact validator(None) semantics, probed one validator at
# a time against /root/reference (validators.py / util.py; see
# tests/test_reference_parity.py None cases). Verdicts that cannot be
# decided driver-side return None and the documented NULL-is-absent rule
# keeps applying to that path.

_VERDICT_BAIL = None


def _none_err(errs):
    if not isinstance(errs, list):
        errs = [errs]
    return ("error", errs)


def none_verdict(node, self_schema=None, path=()):
    """Reference semantics of validating an EXPLICIT ``None`` value.

    Returns ``('accept', out_value)`` (None passes, possibly transformed),
    ``('error', [Invalid, ...])`` (the reference raises; paths are relative
    to the node), or ``None`` — unknown, keep the engine's NULL-is-absent
    behavior for this path. ``self_schema`` resolves ``Self`` references.
    ``path`` is the key path relative to the nearest Schema boundary —
    SomeOf embeds it in its joined message (its sub-validators are called
    with the key path, validators.py:1247-1257) while raising its own
    error PATH-LESS (``raise NotEnoughValid(msg)``, no path argument):
    such errors carry ``no_path_attach=True`` and must surface at the
    enclosing Schema boundary, not at the key.
    """
    from . import exceptions as er
    from .schema import Schema as _Schema

    # -- nodes that ACCEPT None ---------------------------------------------
    if node is None or node is type(None):
        return ("accept", None)
    if isinstance(node, _Schema):
        # a Schema INSTANCE is a callable boundary: inner paths restart,
        # and the boundary prepends the key path to whatever emerges
        # (validate_callable, schema_builder.py:805-809) — so a path-less
        # inner error (SomeOf) attaches HERE and loses its path-less
        # status
        nv = none_verdict(node.schema, self_schema, ())
        if nv is not None and nv[0] == "error":
            for e in nv[1]:
                if getattr(e, "no_path_attach", False):
                    e.no_path_attach = False
        return nv
    if isinstance(node, Maybe):
        return ("accept", None)
    if isinstance(node, DefaultTo):
        d = node.default_value
        return ("accept", d() if callable(d) else d)
    if isinstance(node, SetTo):
        v = node.value
        return ("accept", v() if callable(v) else v)
    if isinstance(node, Boolean):
        return ("accept", False)          # bool(None) (validators.py:239)
    if isinstance(node, IsFalse):
        return ("accept", None)           # falsy passes (validators.py:207)
    if isinstance(node, Object):
        return ("accept", None)           # _compile_object iterates no attrs
    # bare transform functions str()-cast first (util.py:15-62)
    if node is Lower or isinstance(node, Lower):
        return ("accept", "none")
    if node is Upper or isinstance(node, Upper):
        return ("accept", "NONE")
    if (node is Strip or node is Capitalize or node is Title
            or isinstance(node, (Strip, Capitalize, Title))):
        return ("accept", "None")
    if isinstance(node, NotIn):
        try:
            inside = None in node.container
        except TypeError:
            inside = False
        if not inside:
            return ("accept", None)
        return _none_err(er.NotInInvalid(
            node.msg or "value must not be one of %s"
            % _sorted_repr(node.container)))
    if isinstance(node, In):
        try:
            inside = None in node.container
        except TypeError:
            inside = False
        if inside:
            return ("accept", None)
        return _none_err(er.InInvalid(
            node.msg or "value must be one of %s"
            % _sorted_repr(node.container)))
    if isinstance(node, Equal):
        if node.target is None:
            return ("accept", None)
        return _none_err(er.Invalid(
            node.msg or "Values are not equal: value:%s != target:%s"
            % (None, node.target)))

    # -- combinators --------------------------------------------------------
    if isinstance(node, Msg):
        inner = none_verdict(node.schema, self_schema, path)
        if inner is None or inner[0] == "accept":
            return inner
        e = inner[1][0]
        if len(e.path) > 1:               # depth rule (schema_builder.py:946)
            return inner
        cls = node.cls
        if isinstance(cls, str):
            cls = er._BY_NAME.get(cls, er.Invalid)
        return _none_err((cls or er.Invalid)(node.msg))
    if isinstance(node, Marker):          # marker as a VALUE: unwrap
        return none_verdict(node.schema, self_schema, path)
    if isinstance(node, All):
        v = None
        subs = list(node.validators)
        for i, sub in enumerate(subs):
            nv = none_verdict(sub, self_schema, path)
            if nv is None:
                return _VERDICT_BAIL
            kind, payload = nv
            if kind == "error":
                if node.msg:
                    return _none_err(er.AllInvalid(node.msg))
                return ("error", payload)
            v = payload
            if v is not None:
                # value left None-land: the remaining stages are ordinary
                # values — delegate to the engine's own single-doc path
                rest = subs[i + 1:]
                if not rest:
                    return ("accept", v)
                try:
                    return ("accept", _Schema(All(*rest))(v))
                except er.MultipleInvalid as e:
                    if node.msg:
                        return _none_err(er.AllInvalid(node.msg))
                    return ("error", list(e.errors))
        return ("accept", v)
    if isinstance(node, SomeOf):
        passed, errors = 0, []
        for sub in node.validators:
            nv = none_verdict(sub, self_schema, path)
            if nv is None:
                return _VERDICT_BAIL
            kind, payload = nv
            if kind == "accept":
                if payload is not None:
                    return _VERDICT_BAIL  # value threading leaves None-land
                passed += 1
            else:
                errors.append(payload[0])
        lo = node.min_valid or 0
        hi = node.max_valid if node.max_valid is not None else len(
            list(node.validators))
        if lo <= passed <= hi:
            return ("accept", None)
        if node.msg:
            msg = node.msg
        else:
            # sub-validators were called WITH the key path, so their
            # renderings embed it; SomeOf's own error is raised path-less
            # (validators.py:1255-1262)
            for e in errors:
                if not e.path:
                    e._path = list(path)
            msg = ", ".join(str(e) for e in errors)
        exc = (er.TooManyValid(msg) if passed > hi
               else er.NotEnoughValid(msg))
        exc.no_path_attach = True
        return _none_err(exc)
    if isinstance(node, Union) and node.discriminant is not None:
        return _VERDICT_BAIL              # user callable routes on the value
    if isinstance(node, Any):             # covers Or/Union-sans-discriminant
        best = None
        for sub in node.validators:
            nv = none_verdict(sub, self_schema, path)
            if nv is None:
                return _VERDICT_BAIL
            kind, payload = nv
            if kind == "accept":
                return ("accept", payload)
            e = payload[0]
            if best is None or len(e.path) > len(best.path):
                best = e              # deepest wins, ties keep the FIRST
        if best is None:
            return _none_err(er.AnyInvalid(node.msg or "no valid value found"))
        if node.msg:
            return _none_err(er.AnyInvalid(node.msg))
        return _none_err(best)

    # -- scalar validators that REJECT None ---------------------------------
    if isinstance(node, Coerce):
        if node.msg:
            return _none_err(er.CoerceInvalid(node.msg))
        name = getattr(node.type, "__name__", str(node.type))
        message = "expected %s" % name
        if isinstance(node.type, type) and issubclass(node.type, enum.Enum):
            values = [e.value for e in node.type]
            message += " or one of " + str(values)[1:-1]
        return _none_err(er.CoerceInvalid(message))
    if isinstance(node, Match):
        return _none_err(er.MatchInvalid("expected string or buffer"))
    if isinstance(node, Email):
        return _none_err(er.EmailInvalid(
            node.msg or "expected an email address"))
    if isinstance(node, FqdnUrl):
        return _none_err(er.UrlInvalid(
            node.msg or "expected a fully qualified domain name URL"))
    if isinstance(node, Url):
        return _none_err(er.UrlInvalid(node.msg or "expected a URL"))
    if isinstance(node, IsTrue):
        return _none_err(er.TrueInvalid(node.msg or "value was not true"))
    if isinstance(node, (Range, Clamp)):
        return _none_err(er.RangeInvalid(
            node.msg
            or "invalid value or type (must have a partial ordering)"))
    if isinstance(node, Length):
        return _none_err(er.RangeInvalid(node.msg or "invalid value or type"))
    if isinstance(node, Date):
        return _none_err(er.DateInvalid(
            node.msg or "value does not match expected format %s"
            % node.format))
    if isinstance(node, Datetime):
        return _none_err(er.DatetimeInvalid(
            node.msg or "value does not match expected format %s"
            % node.format))
    if isinstance(node, Contains):
        return _none_err(er.ContainsInvalid(node.msg or "value is not allowed"))
    if isinstance(node, Unique):
        return _none_err(er.TypeInvalid(
            node.msg or "contains unhashable elements: "
            "'NoneType' object is not iterable"))
    if isinstance(node, Set):
        return _none_err(er.TypeInvalid(
            "cannot be presented as set: 'NoneType' object is not iterable"))
    if isinstance(node, Literal):
        return _none_err(er.LiteralInvalid(
            "%s not match for %s" % (None, node.lit)))
    if isinstance(node, ExactSequence):
        return _none_err(er.ExactSequenceInvalid(node.msg))
    if isinstance(node, Unordered):
        return _none_err(er.Invalid("Value None is not sequence!"))
    if isinstance(node, IsFile):
        return _none_err(er.FileInvalid("Not a file"))
    if isinstance(node, IsDir):
        return _none_err(er.DirInvalid("Not a directory"))
    if isinstance(node, PathExists):
        return _none_err(er.PathInvalid("Not a Path"))
    if isinstance(node, CallableValidator):
        cls = er._BY_NAME.get(node.error_type, er.Invalid)
        default_msg = node.msg or "not a valid value"
        try:
            r = node.fn(None)
        except er.Invalid as e:
            return _none_err(e)
        except (ValueError, TypeError):
            return _none_err(cls(default_msg))
        if node.truth_mode:
            if r:
                return ("accept", None)
            return _none_err(cls(default_msg))
        return ("accept", r)

    # -- structural nodes ---------------------------------------------------
    if isinstance(node, _SelfSentinel):
        if self_schema is not None and not isinstance(
                self_schema, _SelfSentinel):
            return none_verdict(self_schema, None)
        return _VERDICT_BAIL
    if isinstance(node, dict):
        return _none_err(er.DictInvalid("expected a dictionary"))
    if isinstance(node, list):
        return _none_err(er.SequenceTypeInvalid("expected a list"))
    if isinstance(node, tuple):
        return _none_err(er.SequenceTypeInvalid("expected a tuple"))
    if isinstance(node, (set, frozenset)):
        return _none_err(er.Invalid(
            "expected a %s" % type(node).__name__))
    if isinstance(node, type):
        return _none_err(er.TypeInvalid("expected %s" % node.__name__))
    if isinstance(node, (str, bytes, int, float, complex)):
        return _none_err(er.ScalarInvalid("not a valid value"))
    if callable(node) and not isinstance(node, Validator):
        # bare Python callable: run it exactly like the reference's
        # _compile_scalar (schema_builder.py:800-811); a TypeError from
        # user code propagates there too (crash parity)
        try:
            return ("accept", node(None))
        except er.Invalid as e:
            return _none_err(e)
        except ValueError:
            return _none_err(er.ValueInvalid("not a valid value"))
    return _VERDICT_BAIL


class Object(dict):
    """Attribute-based validation marker (schema_builder.py:955-960).
    A Spark Row IS its attribute bag, so an Object schema validates a
    StructType column exactly like a dict schema, with ObjectInvalid as
    the type-gate error ('Expected an object')."""

    def __init__(self, schema, cls=UNDEFINED):
        self.cls = cls
        super().__init__(schema)


class _SelfSentinel:
    """Recursive schema reference (schema_builder.py:40-41, 215-216).
    Compiled by substituting the ROOT schema at each nesting level; the
    recursion is bounded by the (finite) depth of the column's StructType,
    so unrolling terminates by construction."""

    def __repr__(self):
        return "Self"


Self = _SelfSentinel()
