"""Run the reference library's OWN pytest suite against this engine.

The strongest parity evidence there is: `/root/reference/voluptuous/tests/
tests.py` (the reference's complete unit-test suite, ~167 test functions
asserting exact error strings, paths, error types, and transformed
outputs) is exec'd with ``import voluptuous`` re-pointed at this engine
via :mod:`voluptuous_spark.refcompat`, and every test function runs
unmodified through the single-document path — which rides the same
column-compiled plans as table-scale ``validate(df)``.

167/167 pass verbatim — the complete suite. Values a typed one-row
DataFrame cannot carry (explicit None, mixed-type sequences/sets,
Python classes as data values, tuple/object/mixed-type dict keys,
mixed-type map values) are resolved driver-side with the reference's
exact semantics (schema._resolve_driver_values /
schema._driver_validate_mapping), each key and value still riding the
column engine individually. ``XFAIL`` is empty; it stays STRICT so any
future divergence must be documented here.

Skipped entirely when the reference checkout is absent.
"""

from __future__ import annotations

import os
import sys
import types

import pytest

REF_TESTS = "/root/reference/voluptuous/tests/tests.py"

pytestmark = pytest.mark.skipif(
    not os.path.exists(REF_TESTS), reason="reference checkout not available"
)

_SHIM_NAMES = (
    "voluptuous", "voluptuous.humanize", "voluptuous.util",
    "voluptuous.schema_builder", "voluptuous.error", "voluptuous.validators",
)

# name -> documented divergence (STRICT xfail: these must keep failing)
XFAIL = {}


def _swap_in_shim():
    """Point ``voluptuous`` at this engine; return the displaced modules."""
    from voluptuous_spark.refcompat import install

    saved = {k: sys.modules.get(k) for k in _SHIM_NAMES}
    for k in _SHIM_NAMES:
        sys.modules.pop(k, None)
    install()
    return saved


def _swap_out_shim(saved):
    for k, v in saved.items():
        if v is None:
            sys.modules.pop(k, None)
        else:
            sys.modules[k] = v


def _collect():
    """Exec the reference tests.py under the shim; return [(id, fn, args)]."""
    saved = _swap_in_shim()
    try:
        mod = types.ModuleType("_reference_own_tests")
        mod.__file__ = REF_TESTS
        with open(REF_TESTS) as fh:
            exec(compile(fh.read(), REF_TESTS, "exec"), vars(mod))
    finally:
        _swap_out_shim(saved)
    cases = []
    for name, fn in vars(mod).items():
        if not name.startswith("test_") or not callable(fn):
            continue
        param_sets, argnames = [()], None
        for mark in getattr(fn, "pytestmark", []):
            if getattr(mark, "name", "") == "parametrize":
                argnames = mark.args[0]
                param_sets = []
                for v in mark.args[1]:
                    if hasattr(v, "values"):  # pytest.param(...)
                        param_sets.append(tuple(v.values))
                    elif isinstance(v, (tuple, list)):
                        param_sets.append(tuple(v))
                    else:
                        param_sets.append((v,))
        if argnames is None:
            cases.append((name, fn, ()))
        else:
            for i, ps in enumerate(param_sets):
                cases.append((f"{name}[{i}]", fn, ps))
    return cases


# collected only when the checkout exists, like the sibling parity suites
_CASES = _collect() if os.path.exists(REF_TESTS) else []


@pytest.fixture()
def _shim():
    saved = _swap_in_shim()  # in-body `from voluptuous.humanize import ...`
    yield
    _swap_out_shim(saved)


@pytest.mark.parametrize("case", _CASES, ids=[c[0] for c in _CASES])
def test_reference_own_suite(spark, _shim, case):
    name, fn, args = case
    if name in XFAIL:
        # strict: must still fail for the documented reason
        try:
            fn(*args)
        except BaseException:
            pytest.xfail(XFAIL[name])
        pytest.fail(
            f"{name} unexpectedly PASSED — remove it from XFAIL "
            f"(was: {XFAIL[name]})"
        )
    fn(*args)
