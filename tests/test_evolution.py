"""Schema evolution gate: Iceberg-rule classification of schema diffs.
Pure metadata — no Spark jobs."""

import pytest
from pyspark.sql import types as T

from voluptuous_spark.evolution import (
    SchemaEvolutionError,
    assert_compatible,
    schema_changes,
)


@pytest.fixture(scope="module", autouse=True)
def _ctx(spark):
    # StructType.fromDDL parses through the JVM -> needs a live session
    # (no jobs run; the module is otherwise pure metadata)
    yield


def _s(ddl: str) -> T.StructType:
    return T.StructType.fromDDL(ddl)


def _by_path(changes):
    return {c["path"]: c for c in changes}


def test_identical_schemas_no_changes():
    s = _s("a int, b string")
    assert schema_changes(s, s) == []
    assert assert_compatible(s, s) == []


def test_add_nullable_ok_add_required_breaks():
    old = _s("a int")
    new = T.StructType([
        T.StructField("a", T.IntegerType()),
        T.StructField("b", T.StringType(), nullable=True),
        T.StructField("c", T.LongType(), nullable=False),
    ])
    ch = _by_path(schema_changes(old, new))
    assert ch["b"]["change"] == "column_added" and ch["b"]["compatible"]
    assert ch["c"]["change"] == "column_added" and not ch["c"]["compatible"]
    with pytest.raises(SchemaEvolutionError) as ei:
        assert_compatible(old, new)
    assert [c["path"] for c in ei.value.changes] == ["c"]


def test_widening_ok_narrowing_breaks():
    old = _s("i int, f float, d decimal(10,2), s string")
    new = _s("i bigint, f double, d decimal(14,2), s string")
    ch = _by_path(schema_changes(old, new))
    assert all(c["change"] == "type_widened" and c["compatible"]
               for c in ch.values())
    # reverse direction narrows -> breaking
    back = _by_path(schema_changes(new, old))
    assert all(c["change"] == "type_changed" and not c["compatible"]
               for c in back.values())
    # scale change is never compatible
    [sc] = schema_changes(_s("d decimal(10,2)"), _s("d decimal(12,4)"))
    assert sc["change"] == "type_changed" and not sc["compatible"]


def test_retype_breaks():
    [bad] = schema_changes(_s("a int"), _s("a string"))
    assert bad["change"] == "type_changed" and not bad["compatible"]
    assert "int -> string" in bad["detail"]


def test_drop_defaults_breaking_opt_in_allowed():
    old, new = _s("a int, b string"), _s("a int")
    [drop] = schema_changes(old, new)
    assert drop["change"] == "column_dropped" and not drop["compatible"]
    [drop] = schema_changes(old, new, allow_drop=True)
    assert drop["compatible"]
    assert_compatible(old, new, allow_drop=True)


def test_nullability_rules():
    old = T.StructType([T.StructField("a", T.IntegerType(), nullable=True)])
    new = T.StructType([T.StructField("a", T.IntegerType(), nullable=False)])
    tight = schema_changes(old, new)
    assert tight[0]["change"] == "nullability_tightened"
    assert not tight[0]["compatible"]
    relax = schema_changes(new, old)
    assert relax[0]["change"] == "nullability_relaxed"
    assert relax[0]["compatible"]


def test_nested_paths():
    old = _s("meta struct<tags: array<int>, kv: map<string,int>>, "
             "recs array<struct<x: int, y: float>>")
    new = _s("meta struct<tags: array<string>, kv: map<string,bigint>>, "
             "recs array<struct<x: int, y: double, z: string>>")
    ch = _by_path(schema_changes(old, new))
    assert ch["meta.tags.element"]["change"] == "type_changed"
    assert not ch["meta.tags.element"]["compatible"]
    assert ch["meta.kv.value"]["change"] == "type_widened"
    assert ch["recs.element.y"]["change"] == "type_widened"
    assert ch["recs.element.z"]["change"] == "column_added"
    assert ch["recs.element.z"]["compatible"]
    # map KEY retype is breaking
    kc = _by_path(schema_changes(
        _s("kv map<int,int>"), _s("kv map<string,int>")
    ))
    assert kc["kv.key"]["change"] == "type_changed"
    assert not kc["kv.key"]["compatible"]


def test_container_vs_scalar_retype():
    [bad] = schema_changes(_s("a array<int>"), _s("a int"))
    assert bad["change"] == "type_changed" and not bad["compatible"]
    [bad2] = schema_changes(_s("a struct<x:int>"), _s("a array<int>"))
    assert bad2["change"] == "type_changed" and not bad2["compatible"]
