"""Characterization of the sequence rule: list, nested-list, Remove,
transforming, set, frozenset, Unordered and Any-of-lists schemas, each
checked on its ``validate`` violation rows and outputs and on its
single-document ``__call__`` answers. The rule: alternatives are tried in
order, a Remove match drops the element, a failing element reports the
last keep alternative's error, and a deeper error inside a nested list
aborts with that element's inner errors.

The expected values were recorded from the engine before the rule was
gathered into one element-wise path; the rule must not depend on how
Spark executes it (codegen or interpreted), and a Python callable member
must behave like an equivalent built-in in every sequence schema."""

import pytest

from voluptuous_spark import (
    All, Any, Boolean, Length, Range, Remove, Schema, Unordered,
)
from voluptuous_spark.dsl import ALLOW_EXTRA
from voluptuous_spark.exceptions import MultipleInvalid


def _nonneg():
    # built in a closure so cloudpickle ships it to the Python workers by
    # value: they cannot import this test module by name
    def pos(x):
        if x < 0:
            raise ValueError
        return x
    return pos


pos = _nonneg()


# name -> (schema, column type, values)
CASES = {
    "list": ([Range(min=0)], "array<int>", [[1, 2], [1, -2, 3, -4], [], None]),
    "list_two_alts": ([Range(min=10), Range(max=0)], "array<int>",
                      [[11, -1], [5, 11, 7]]),
    "list_remove": ([Range(min=0), Remove(-1)], "array<int>",
                    [[1, -1, 2], [1, -2, -1], [-1, -1]]),
    "list_remove_first": ([Remove(Range(max=0)), int], "array<int>",
                          [[3, 0, -4, 5]]),
    "list_keep_before_remove": ([0, Remove(Range(max=0))], "array<int>",
                                [[0, -1, 0, 2]]),
    "list_transform": ([Boolean()], "array<string>",
                       [["yes", "no", "1"], ["yes", "maybe"]]),
    "list_callable": ([pos], "array<int>", [[1, 2], [1, -2, 3]]),
    "list_empty_alts": ([], "array<int>", [[], [1, 2]]),
    "tuple": ((Range(min=0),), "array<int>", [[1], [-1, 2]]),
    "nested": ([[Range(min=0)]], "array<array<int>>",
               [[[1], [2, 3]], [[1, -1], [-2]], [[1], None], [None, [-1]],
                [[], [4]]]),
    "nested_scalar_alt": ([[2, 3], 6], "array<array<int>>",
                          [[[2], [3, 2]], [[2], [5]], [[4], [7]]]),
    "nested3": ([[[Range(min=0)]]], "array<array<array<int>>>",
                [[[[1]], [[2, -3]]], [[[1]], [None]], [[[-5]], [[-6]]]]),
    "set": ({1, 2, 3}, "array<int>", [[1, 3], [1, 5, 7]]),
    "set_type": ({str}, "array<int>", [[1], []]),
    "set_range": ({Range(min=0)}, "array<int>", [[1, 2], [1, -2, 3]]),
    "frozenset": (frozenset([1, 2, 3]), "array<int>", [[2], [4, 1]]),
    "unordered": (Unordered([Range(min=0), Range(max=0)]), "array<int>",
                  [[1, -1], [-1, 1], [1, 1], [1], [1, -1, 5]]),
    "unordered_types": (Unordered([int, int, int]), "array<int>",
                        [[1, 2, 3], [1, 2]]),
    "any_lists": (Any([Range(min=0)], [Range(max=-10)]), "array<int>",
                  [[1, 2], [-20, -30], [1, -20]]),
    "all_list_stage": (All([Range(min=0)], Length(max=2)), "array<int>",
                       [[1, 2], [1, 2, 3], [-1]]),
}

# a Python callable member against the built-in it stands for; the two
# must answer alike (the set and Unordered messages do not name the member)
CALLABLE_TWINS = {
    "set_callable": ({pos}, {Range(min=0)}),
    "unordered_callable": (Unordered([pos, pos, pos]),
                           Unordered([Range(min=0)] * 3)),
}
TWIN_VALUES = [[1, 2, 3], [1, -2, 3], [1, 2], []]


def violation_rows(spark, schema, ddl, values):
    df = spark.createDataFrame(list(enumerate(values)), f"i long, xs {ddl}")
    res = Schema({"xs": schema}, extra=ALLOW_EXTRA).validate(
        df, id_cols=["i"])
    return sorted(
        (r["i"], list(r["path"]), r["message"], r["error_type"],
         r["offending"], r["ctx"])
        for r in res.violations.collect()
    ), sorted(
        (r["i"], r["xs"]) for r in res.annotated.select("i", "xs").collect()
    )


def call_outcome(schema, value):
    if isinstance(schema, (set, frozenset)) and value is not None:
        value = type(schema)(value)
    try:
        return ("ok", repr(Schema({"xs": schema})({"xs": value})))
    except MultipleInvalid as e:
        return ("err", sorted(str(x) for x in e.errors))


# recorded from the engine before the rule moved into one path
EXPECTED = {
    'list': {
        "violations": [
            (1, ['xs', '1'], 'value must be at least 0', 'RangeInvalid', '-2',
             None),
            (1, ['xs', '3'], 'value must be at least 0', 'RangeInvalid', '-4',
             None),
        ],
        "outputs": [(0, [1, 2]), (1, [1, 3]), (2, []), (3, None)],
        "calls": [
            ('ok', "{'xs': [1, 2]}"),
            ('err', ["value must be at least 0 @ data['xs'][1]",
              "value must be at least 0 @ data['xs'][3]"]),
            ('ok', "{'xs': []}"),
            ('err', ["expected a list for dictionary value @ data['xs']"]),
        ],
    },
    'list_two_alts': {
        "violations": [
            (1, ['xs', '0'], 'value must be at most 0', 'RangeInvalid', '5',
             None),
            (1, ['xs', '2'], 'value must be at most 0', 'RangeInvalid', '7',
             None),
        ],
        "outputs": [(0, [11, -1]), (1, [11])],
        "calls": [
            ('ok', "{'xs': [11, -1]}"),
            ('err', ["value must be at most 0 @ data['xs'][0]",
              "value must be at most 0 @ data['xs'][2]"]),
        ],
    },
    'list_remove': {
        "violations": [
            (1, ['xs', '1'], 'value must be at least 0', 'RangeInvalid', '-2',
             None),
        ],
        "outputs": [(0, [1, 2]), (1, [1]), (2, [])],
        "calls": [
            ('ok', "{'xs': [1, 2]}"),
            ('err', ["value must be at least 0 @ data['xs'][1]"]),
            ('ok', "{'xs': []}"),
        ],
    },
    'list_remove_first': {
        "violations": [
        ],
        "outputs": [(0, [3, 5])],
        "calls": [
            ('ok', "{'xs': [3, 5]}"),
        ],
    },
    'list_keep_before_remove': {
        "violations": [
            (0, ['xs', '3'], 'not a valid value', 'ScalarInvalid', '2', None),
        ],
        "outputs": [(0, [0, 0])],
        "calls": [
            ('err', ["not a valid value @ data['xs'][3]"]),
        ],
    },
    'list_transform': {
        "violations": [
            (1, ['xs', '1'], 'expected boolean', 'BooleanInvalid', "'maybe'",
             None),
        ],
        "outputs": [(0, [True, False, True]), (1, [True])],
        "calls": [
            ('ok', "{'xs': [True, False, True]}"),
            ('err', ["expected boolean @ data['xs'][1]"]),
        ],
    },
    'list_callable': {
        "violations": [
            (1, ['xs', '1'], 'not a valid value', 'ValueInvalid', '-2', None),
        ],
        "outputs": [(0, [1, 2]), (1, [1, 3])],
        "calls": [
            ('ok', "{'xs': [1, 2]}"),
            ('err', ["not a valid value @ data['xs'][1]"]),
        ],
    },
    'list_empty_alts': {
        "violations": [
            (1, ['xs'], 'not a valid value', 'ValueInvalid', 'None',
             'dictionary value'),
        ],
        "outputs": [(0, []), (1, [])],
        "calls": [
            ('ok', "{'xs': []}"),
            ('err', ["not a valid value for dictionary value @ data['xs']"]),
        ],
    },
    'tuple': {
        "violations": [
            (1, ['xs', '0'], 'value must be at least 0', 'RangeInvalid', '-1',
             None),
        ],
        "outputs": [(0, [1]), (1, [2])],
        "calls": [
            ('ok', "{'xs': [1]}"),
            ('err', ["value must be at least 0 @ data['xs'][0]"]),
        ],
    },
    'nested': {
        "violations": [
            (1, ['xs', '0', '1'], 'value must be at least 0', 'RangeInvalid',
             '-1', None),
            (2, ['xs', '1'], 'expected a list', 'SequenceTypeInvalid', 'None',
             None),
            (3, ['xs', '1', '0'], 'value must be at least 0', 'RangeInvalid',
             '-1', None),
        ],
        "outputs": [(0, [[1], [2, 3]]),
                    (1, []),
                    (2, [[1], None]),
                    (3, [None]),
                    (4, [[], [4]])],
        "calls": [
            ('ok', "{'xs': [[1], [2, 3]]}"),
            ('err', ["value must be at least 0 @ data['xs'][0][1]"]),
            ('err', ["expected a list @ data['xs'][1]"]),
            ('err', ["value must be at least 0 @ data['xs'][1][0]"]),
            ('ok', "{'xs': [[], [4]]}"),
        ],
    },
    'nested_scalar_alt': {
        "violations": [
            (1, ['xs', '1', '0'], 'not a valid value', 'ScalarInvalid', '5',
             None),
            (2, ['xs', '0', '0'], 'not a valid value', 'ScalarInvalid', '4',
             None),
        ],
        "outputs": [(0, [[2], [3, 2]]), (1, [[2]]), (2, [])],
        "calls": [
            ('ok', "{'xs': [[2], [3, 2]]}"),
            ('err', ["not a valid value @ data['xs'][1][0]"]),
            ('err', ["not a valid value @ data['xs'][0][0]"]),
        ],
    },
    'nested3': {
        "violations": [
            (0, ['xs', '1', '0', '1'], 'value must be at least 0',
             'RangeInvalid', '-3', None),
            (1, ['xs', '1', '0'], 'expected a list', 'SequenceTypeInvalid',
             'None', None),
            (2, ['xs', '0', '0', '0'], 'value must be at least 0',
             'RangeInvalid', '-5', None),
        ],
        "outputs": [(0, [[[1]]]), (1, [[[1]], [None]]), (2, [])],
        "calls": [
            ('err', ["value must be at least 0 @ data['xs'][1][0][1]"]),
            ('err', ["expected a list @ data['xs'][1][0]"]),
            ('err', ["value must be at least 0 @ data['xs'][0][0][0]"]),
        ],
    },
    'set': {
        "violations": [
            (1, ['xs'], 'invalid value in set', 'Invalid', '[1, 5, 7]',
             'dictionary value'),
        ],
        "outputs": [(0, [1, 3]), (1, [1, 5, 7])],
        "calls": [
            ('ok', "{'xs': [1, 3]}"),
            ('err',
             ["invalid value in set for dictionary value @ data['xs']"]),
        ],
    },
    'set_type': {
        "violations": [
            (0, ['xs'], 'invalid value in set', 'Invalid', '[1]',
             'dictionary value'),
        ],
        "outputs": [(0, [1]), (1, [])],
        "calls": [
            ('err',
             ["invalid value in set for dictionary value @ data['xs']"]),
            ('ok', "{'xs': []}"),
        ],
    },
    'set_range': {
        "violations": [
            (1, ['xs'], 'invalid value in set', 'Invalid', '[1, -2, 3]',
             'dictionary value'),
        ],
        "outputs": [(0, [1, 2]), (1, [1, -2, 3])],
        "calls": [
            ('ok', "{'xs': [1, 2]}"),
            ('err',
             ["invalid value in set for dictionary value @ data['xs']"]),
        ],
    },
    'frozenset': {
        "violations": [
            (1, ['xs'], 'invalid value in frozenset', 'Invalid', '[4, 1]',
             'dictionary value'),
        ],
        "outputs": [(0, [2]), (1, [4, 1])],
        "calls": [
            ('ok', "{'xs': [2]}"),
            ('err',
             ["invalid value in frozenset for dictionary value @ data['xs']"]),
        ],
    },
    'unordered': {
        "violations": [
            (2, ['xs'], 'Element #1 (1) is not valid against any validator',
             'Invalid', '[1, 1]', 'dictionary value'),
            (3, ['xs'], 'List lengths differ, value:1 != target:2', 'Invalid',
             '[1]', 'dictionary value'),
            (4, ['xs'], 'List lengths differ, value:3 != target:2', 'Invalid',
             '[1, -1, 5]', 'dictionary value'),
        ],
        "outputs": [(0, [1, -1]),
                    (1, [-1, 1]),
                    (2, [1, 1]),
                    (3, [1]),
                    (4, [1, -1, 5])],
        "calls": [
            ('ok', "{'xs': [1, -1]}"),
            ('ok', "{'xs': [-1, 1]}"),
            ('err',
             ["Element #1 (1) is not valid against any validator for dictionary value @ data['xs']"]),
            ('err',
             ["List lengths differ, value:1 != target:2 for dictionary value @ data['xs']"]),
            ('err',
             ["List lengths differ, value:3 != target:2 for dictionary value @ data['xs']"]),
        ],
    },
    'unordered_types': {
        "violations": [
            (1, ['xs'], 'List lengths differ, value:2 != target:3', 'Invalid',
             '[1, 2]', 'dictionary value'),
        ],
        "outputs": [(0, [1, 2, 3]), (1, [1, 2])],
        "calls": [
            ('ok', "{'xs': [1, 2, 3]}"),
            ('err',
             ["List lengths differ, value:2 != target:3 for dictionary value @ data['xs']"]),
        ],
    },
    'any_lists': {
        "violations": [
            (2, ['xs', '1'], 'value must be at least 0', 'RangeInvalid', '-20',
             None),
        ],
        "outputs": [(0, [1, 2]), (1, [-20, -30]), (2, [1, -20])],
        "calls": [
            ('ok', "{'xs': [1, 2]}"),
            ('ok', "{'xs': [-20, -30]}"),
            ('err', ["value must be at least 0 @ data['xs'][1]"]),
        ],
    },
    'all_list_stage': {
        "violations": [
            (1, ['xs'], 'length of value must be at most 2', 'LengthInvalid',
             '[1, 2, 3]', 'dictionary value'),
            (2, ['xs', '0'], 'value must be at least 0', 'RangeInvalid', '-1',
             None),
        ],
        "outputs": [(0, [1, 2]), (1, [1, 2, 3]), (2, [])],
        "calls": [
            ('ok', "{'xs': [1, 2]}"),
            ('err',
             ["length of value must be at most 2 for dictionary value @ data['xs']"]),
            ('err', ["value must be at least 0 @ data['xs'][0]"]),
        ],
    },
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_sequence_rule(spark, name):
    schema, ddl, values = CASES[name]
    viols, outs = violation_rows(spark, schema, ddl, values)
    want = EXPECTED[name]
    assert viols == want["violations"]
    assert outs == want["outputs"]
    assert [call_outcome(schema, v) for v in values] == want["calls"]


@pytest.mark.parametrize("name", sorted(CALLABLE_TWINS))
def test_callable_member_matches_builtin(spark, name):
    with_fn, builtin = CALLABLE_TWINS[name]
    assert violation_rows(spark, with_fn, "array<int>", TWIN_VALUES) == \
        violation_rows(spark, builtin, "array<int>", TWIN_VALUES)
    got = [call_outcome(with_fn, v) for v in TWIN_VALUES]
    assert got == [call_outcome(builtin, v) for v in TWIN_VALUES]
    assert any(kind == "err" for kind, _ in got)


def test_unordered_callable_call_raises_multiple_invalid(spark):
    with pytest.raises(MultipleInvalid) as ei:
        Schema({"xs": Unordered([pos, pos, pos])})({"xs": [1, -2, 3]})
    assert [str(e) for e in ei.value.errors] == [
        "Element #1 (-2) is not valid against any validator "
        "for dictionary value @ data['xs']"]


_NO_CODEGEN = {"spark.sql.codegen.wholeStage": "false",
               "spark.sql.codegen.factoryMode": "NO_CODEGEN"}


def test_rule_does_not_depend_on_execution_mode(spark):
    schemas = [(schema, ddl, values) for schema, ddl, values in
               CASES.values()]
    schemas += [(s, "array<int>", TWIN_VALUES)
                for pair in CALLABLE_TWINS.values() for s in pair]
    default = [violation_rows(spark, *s) for s in schemas]
    before = {k: spark.conf.get(k, None) for k in _NO_CODEGEN}
    try:
        for k, v in _NO_CODEGEN.items():
            spark.conf.set(k, v)
        interpreted = [violation_rows(spark, *s) for s in schemas]
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert interpreted == default
