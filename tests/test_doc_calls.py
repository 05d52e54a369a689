"""Single-document ``Schema.__call__``: the cost contract (no Spark job per
call, on every route) and parity of its errors with ``Schema.validate``
over the same document as a one-row DataFrame."""

import pytest

from voluptuous_spark import (
    Any, Coerce, DefaultTo, Exclusive, In, Inclusive, Lower, Maybe,
    Optional, Required, Schema, SetTo,
)
from voluptuous_spark.exceptions import MultipleInvalid
from voluptuous_spark.schema import _to_row_value
from voluptuous_spark.suite import CLIPS_SCHEMA

NESTED = Schema({
    Required("utt_id"): str,
    Required("segments"): [{
        Required("start_ms"): Coerce(int),
        Required("end_ms"): int,
        Optional("speaker", default="unk"): str,
    }],
    Optional("lang", default="en"): str,
})
MIXED = Schema({Required("clip_id"): str, Required("tags"): [Any(int, str)]})
FLAT_OK = {"clip_id": "c1", "sr_hz": 16000, "dur_ms": "480",
           "codec": "wav", "transcript": "hello"}

# (route, schema, valid document, invalid document)
ROUTES = [
    ("flat", CLIPS_SCHEMA, FLAT_OK, dict(FLAT_OK, codec="ogg")),
    ("nested", NESTED,
     {"utt_id": "u1", "segments": [{"start_ms": "5", "end_ms": 9}]},
     {"utt_id": "u1", "segments": [{"start_ms": "5x", "end_ms": 9}]}),
    ("driver", MIXED, {"clip_id": "c1", "tags": [1, "a"]},
     {"clip_id": "c1", "tags": [1, "a", 2.5]}),
    ("scalar", Schema(int), 5, "five"),
    ("map", Schema({int: str}), {1: "a", 2: "b"}, {1: "a", 2: 3}),
]


def _outcome(schema, doc):
    try:
        return ("ok", schema(doc))
    except MultipleInvalid as e:
        return ("err", [str(x) for x in e.errors])


@pytest.mark.parametrize("route,schema,good,bad", ROUTES,
                         ids=[r[0] for r in ROUTES])
def test_call_launches_no_spark_job(jobs_of, route, schema, good, bad):
    for doc, want in ((good, "ok"), (bad, "err")):
        outcome, jobs = jobs_of(lambda: _outcome(schema, doc))
        assert outcome[0] == want, (route, outcome)
        assert jobs == 0, (route, want, jobs)


def test_call_outputs_unchanged(spark):
    assert CLIPS_SCHEMA(FLAT_OK) == dict(FLAT_OK, dur_ms=480)
    assert NESTED({"utt_id": "u1", "segments": [
        {"start_ms": "5", "end_ms": 9},
        {"start_ms": "7", "end_ms": 12, "speaker": "b"},
    ]}) == {"utt_id": "u1", "lang": "en", "segments": [
        {"start_ms": 5, "end_ms": 9, "speaker": "unk"},
        {"start_ms": 7, "end_ms": 12, "speaker": "b"},
    ]}
    assert MIXED({"clip_id": "c1", "tags": [1, "a"]}) == {
        "clip_id": "c1", "tags": [1, "a"]}
    assert Schema(int)(5) == 5
    assert Schema({int: str})({1: "a", 2: "b"}) == {1: "a", 2: "b"}
    assert Schema({"a": int})({}) == {}


GROUPS = Schema({
    "m": {Exclusive("a", "g"): int, Exclusive("b", "g"): int,
          Inclusive("x", "h"): int, Inclusive("y", "h"): int},
    Required("z"): str,
})
# (schema, document with several errors)
MULTI_ERROR = [
    # ' for dictionary value' context on every field error
    (CLIPS_SCHEMA, {"clip_id": "", "sr_hz": 12345, "dur_ms": 0,
                    "codec": "ogg", "transcript": " x"}),
    (NESTED, {"utt_id": 7, "segments": [
        {"start_ms": "1x", "end_ms": 2}, {"start_ms": "3", "end_ms": 5},
        {"start_ms": "zz", "end_ms": 4}]}),
    (GROUPS, {"m": {"a": 1, "b": 2}, "z": 3}),  # Exclusive group fires
    (GROUPS, {"m": {"x": 1}, "z": 3}),  # Inclusive group fires
    (Schema({Required("p"): In([1, 2]), Required("q"): int,
             Required("r"): str}), {"p": 3}),  # value + missing keys
]


@pytest.mark.parametrize("schema,doc", MULTI_ERROR)
def test_call_errors_match_validate_rendering(spark, schema, doc):
    with pytest.raises(MultipleInvalid) as exc:
        schema(doc)
    got = [str(e) for e in exc.value.errors]

    stype = schema._infer_doc_type(doc)
    df = spark.createDataFrame([_to_row_value(doc, stype)], stype)
    want = [r["rendered"] for r in
            schema.validate(df).violations.select("rendered").collect()]
    assert len(got) > 1 and got == want


# a root None takes the verdict a None dict value takes: Any tries its
# branches in order, so the transforming branch wins over the None one
ROOT_NONE = {
    "any_default_to": (Any(DefaultTo(5), None), 5),
    "any_lower": (Any(Lower, None), "none"),
    "any_set_to": (Any(SetTo(7), None), 7),
    "maybe": (Maybe(int), None),
    "default_to": (DefaultTo(3), 3),
    "set_to": (SetTo(4), 4),
}


@pytest.mark.parametrize("name", ROOT_NONE)
def test_root_none_matches_dict_value_none(spark, name):
    node, want = ROOT_NONE[name]
    assert Schema({"k": node})({"k": None}) == {"k": want}
    assert Schema(node)(None) == want
