"""Schema evolution gate: classify the changes between two table
schemas as COMPATIBLE (safe to apply) or BREAKING, using the Iceberg
evolution rules — the check a validation engine runs BEFORE a new
delivery's schema is allowed to touch a 10^12-row table.

Pure driver-side metadata comparison (two StructTypes — no Spark job);
the verdict gates the expensive part, it never scans data.

Compatible (Iceberg-legal) changes:
  - ADD a nullable column (readers see nulls for old files)
  - WIDEN a type losslessly: int->long, float->double,
    decimal(p,s)->decimal(p',s) with p' >= p (same scale)
  - RELAX nullability: required -> nullable
  - DROP a column IS legal in Iceberg, but defaults to breaking here
    (``allow_drop=True`` opts in) because for a VALIDATION corpus a
    vanished column usually means a broken upstream, not a migration.

Breaking:
  - any other type change (long->int narrows, string->int re-types,
    element/key/value/field changes inside containers follow the same
    rules recursively)
  - TIGHTEN nullability: nullable -> required (old rows may hold nulls)
  - ADD a required column (old files have no value for it)

Nested structs, arrays and maps are walked recursively with dotted
paths (``meta.tags.element``), so a narrowing buried three levels deep
in an array<struct<...>> is reported at its exact path.
"""

from __future__ import annotations

from pyspark.sql import types as T


class SchemaEvolutionError(ValueError):
    """Raised by ``assert_compatible`` when breaking changes exist."""

    def __init__(self, changes):
        self.changes = changes
        lines = "; ".join(
            f"{c['path']}: {c['change']} ({c['detail']})" for c in changes
        )
        super().__init__(f"breaking schema changes: {lines}")


def _is_widening(old: T.DataType, new: T.DataType) -> bool:
    if isinstance(old, T.IntegerType) and isinstance(new, T.LongType):
        return True
    if isinstance(old, T.FloatType) and isinstance(new, T.DoubleType):
        return True
    if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
        return new.scale == old.scale and new.precision >= old.precision
    return False


def _walk(
    old: T.DataType,
    new: T.DataType,
    path: str,
    nullable_ctx: tuple[bool, bool],
    out: list,
) -> None:
    o_null, n_null = nullable_ctx
    if o_null and not n_null:
        out.append({
            "path": path, "change": "nullability_tightened",
            "compatible": False,
            "detail": "nullable -> required (existing rows may be null)",
        })
    elif not o_null and n_null:
        out.append({
            "path": path, "change": "nullability_relaxed",
            "compatible": True, "detail": "required -> nullable",
        })

    if old == new:
        return
    if type(old) is not type(new) or isinstance(old, T.DecimalType):
        if _is_widening(old, new):
            out.append({
                "path": path, "change": "type_widened",
                "compatible": True,
                "detail": f"{old.simpleString()} -> {new.simpleString()}",
            })
            return
        if not isinstance(old, type(new)) or not isinstance(
            new, (T.StructType, T.ArrayType, T.MapType)
        ):
            out.append({
                "path": path, "change": "type_changed",
                "compatible": False,
                "detail": f"{old.simpleString()} -> {new.simpleString()}",
            })
            return

    if isinstance(old, T.StructType) and isinstance(new, T.StructType):
        _walk_struct(old, new, path, out)
    elif isinstance(old, T.ArrayType) and isinstance(new, T.ArrayType):
        _walk(
            old.elementType, new.elementType,
            f"{path}.element" if path else "element",
            (old.containsNull, new.containsNull), out,
        )
    elif isinstance(old, T.MapType) and isinstance(new, T.MapType):
        kp = f"{path}.key" if path else "key"
        vp = f"{path}.value" if path else "value"
        _walk(old.keyType, new.keyType, kp, (False, False), out)
        _walk(
            old.valueType, new.valueType, vp,
            (old.valueContainsNull, new.valueContainsNull), out,
        )


def _walk_struct(
    old: T.StructType, new: T.StructType, path: str, out: list
) -> None:
    oldf = {f.name: f for f in old.fields}
    newf = {f.name: f for f in new.fields}
    for name, f in newf.items():
        p = f"{path}.{name}" if path else name
        if name not in oldf:
            out.append({
                "path": p, "change": "column_added",
                "compatible": bool(f.nullable),
                "detail": (
                    f"nullable {f.dataType.simpleString()}" if f.nullable
                    else f"REQUIRED {f.dataType.simpleString()} "
                         "(old rows have no value)"
                ),
            })
        else:
            o = oldf[name]
            _walk(
                o.dataType, f.dataType, p,
                (o.nullable, f.nullable), out,
            )
    for name, o in oldf.items():
        if name not in newf:
            p = f"{path}.{name}" if path else name
            out.append({
                "path": p, "change": "column_dropped",
                "compatible": None,  # resolved by allow_drop at the top
                "detail": o.dataType.simpleString(),
            })


def schema_changes(
    old: T.StructType,
    new: T.StructType,
    allow_drop: bool = False,
) -> list[dict]:
    """All differences between two schemas, each classified:
    ``{"path", "change", "compatible", "detail"}``. ``change`` is one of
    column_added / column_dropped / type_widened / type_changed /
    nullability_relaxed / nullability_tightened."""
    out: list = []
    _walk_struct(old, new, "", out)
    for c in out:
        if c["change"] == "column_dropped":
            c["compatible"] = bool(allow_drop)
    return out


def assert_compatible(
    old: T.StructType, new: T.StructType, allow_drop: bool = False
) -> list[dict]:
    """Raise :class:`SchemaEvolutionError` on any breaking change;
    return the (possibly empty) list of compatible changes otherwise —
    the gate to run before writing a new delivery into an existing
    table."""
    changes = schema_changes(old, new, allow_drop=allow_drop)
    bad = [c for c in changes if not c["compatible"]]
    if bad:
        raise SchemaEvolutionError(bad)
    return changes
