"""Seeded randomized differential fuzz vs the reference library.

Generates random schema spec trees (the module-agnostic tuple grammar of
``tests/test_reference_parity._mk``) plus random documents, validates each
document through BOTH engines — voluptuous itself (read-only checkout at
/root/reference) and this engine's single-document shim — and compares
accept/reject, the transformed document, and the sorted set of rendered
error strings.

The grammar deliberately EXCLUDES most documented by-design divergences
(None values = absent keys, REMOVE_EXTRA pruning inside Any/Union dict
branches, Coerce(Enum) accept-side, callable key renames) so every
mismatch it prints is an actionable parity bug. The ONE frozen output
divergence — mixed-type transforming Any branches — is instead drawn ON
PURPOSE (``gen_mixed_any_spec``) and checked under its own masked rule:
accept/reject and errors must match exactly and the engine's output at
the mixed key must be precisely the identity input; anything else still
counts as a mismatch. This proves the divergence list is complete, not
just asserted.

Usage:
    python tools/fuzz_parity.py [start_seed] [n_seeds]

Prints one line per mismatch (seed + spec + doc + both outcomes) and a
final summary; exit code 1 if any mismatch. Found divergences should be
fixed and frozen as regression cases in tests/test_reference_parity.py.
"""

from __future__ import annotations

import random
import sys
from pathlib import Path

# import the checkout this script lives in, not an installed copy
_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(_ROOT))
sys.path.insert(0, str(_ROOT / "tests"))

# -- value pools -------------------------------------------------------------

INTS = [-5, -1, 0, 1, 2, 3, 4, 5, 7, 9, 10, 11, 25, 49, 50, 99, 100]
FLOATS = [-2.5, -0.5, 0.0, 0.5, 1.0, 2.5, 5.0, 7.5, 10.0, 49.5, 100.0]
STRS = [
    "", "a", "ab", "abc", "abcdef", "zebra", "Hello World", " pad ",
    "yes", "no", "TRUE", "off", "maybe", "0", "1", "17", "3.5", "x@y.com",
    "red", "blue",
]
MATCH_POOL = [r"^a", r"^ab", r"[0-9]+$", r"^[a-z]{2,4}$", r"\S"]
DATE_STRS = ["2024-01-02", "2024-02-29", "2024-13-01", "nope", "02/01/2024"]
EMAILISH = ["x@y.com", "a.b@c.d.org", "@nope.com", "x@", "plain", "x y@z.com"]
URLISH = [
    "http://example.com/a?b=1", "https://x.io", "ftp://files.org/f",
    "nota url", "http://", "//missing.scheme",
]
DT_STRS = [
    "2024-01-02T10:20:30.000Z", "2024-01-02 10:20:30",
    "2024-02-30T00:00:00.000Z", "nope", "2024-01-02",
    # strptime-exact edges: IGNORECASE literals, 1-digit fields
    "2024-01-02t10:20:30.000z", "2024-1-2T3:4:5.6Z",
    "0000-01-02T03:04:05.000006Z",
]
# explicit-format Datetime/Date: (fmt, value pool with pass+fail mix)
DT_FMT_POOLS = [
    ("%Y-%m-%d %H:%M:%S",
     ["2024-01-02 10:20:30", "2024-1-2 3:4:5", "2023-02-29 00:00:00",
      "2024-01-02  10:20:30", "2024-01-02", "nope"]),
    ("%Y %j",
     ["2023 366", "2024 366", "2023 001", "2023 1", "2023 000",
      "2023 367", "x"]),
    ("%H:%M:%S",
     ["23:59:59", "3:4:5", "24:00:00", "03:04:60", "03:04", ""]),
    # NB: unpadded values inside adjacent digit runs ("2024012") hit the
    # documented divergence (Python regex backtracking vs java fixed
    # width) — excluded from the pools
    ("%Y%m%d",
     ["20240102", "20241302", "20240230", "abc"]),
    ("%d/%m/%Y %I:%M %p",
     ["02/01/2024 11:30 PM", "2/3/2024 1:5 am", "02/01/2024 13:30 PM",
      "31/02/2024 11:30 PM", "02/01/2024 11:30"]),
    ("%Y-%m-%dT%H:%M:%S%z",
     ["2024-01-02T03:04:05+0000", "2024-01-02T03:04:05Z",
      "2024-01-02T03:04:05", "2024-01-02t03:04:05+0000",
      "2024-01-02T03:04:05z", "2024-01-02T03:04:05+05:30",
      "2024-01-02T03:04:05-23:59", "2024-01-02T03:04:05+2400",
      "2024-01-02T03:04:05+00:00:30", "2024-01-02T03:04:05+00"]),
    ("%H:%M%z", ["03:04+0000", "03:04Z", "03:04z", "03:04+00:00",
                 "03:04+0060", "03:04"]),
    ("%d %b %Y",
     ["02 jan 2024", "02 JAN 2024", "2 Jan 2024", "02 January 2024",
      "30 feb 2024", "29 feb 2024"]),
    ("%d %B %Y",
     ["02 january 2024", "02 JANUARY 2024", "02 Jan 2024",
      "31 april 2024"]),
]
DATE_FMT_POOLS = [
    ("%d.%m.%Y", ["02.01.2024", "2.1.2024", "30.02.2024", "02-01-2024"]),
    ("%Y/%j", ["2023/366", "2023/367", "2024/060", "2024/60", "nope"]),
    ("%m%d%Y", ["01022024", "13022024", "0102024"]),
]


def _ints(rng, lo=0, hi=4):
    return [rng.choice(INTS) for _ in range(rng.randint(lo, hi))]


def _strs(rng, lo=0, hi=4):
    return [rng.choice(STRS) for _ in range(rng.randint(lo, hi))]


# -- spec generators ---------------------------------------------------------
# each returns (spec, sample_fn) where sample_fn(rng) draws a doc value of
# the matching static type (pass/fail mix comes from the pools themselves)


def _wild(rng):
    """A value of a random (possibly foreign) type — exercises the
    cross-type degradation paths (Python equality/ordering semantics vs
    Spark implicit casts). Excludes None (documented divergence: None
    values = absent keys) and bool (reference compares bools as ints)."""
    return rng.choice(
        [
            lambda r: r.choice(INTS),
            lambda r: r.choice(FLOATS),
            lambda r: r.choice(STRS),
            lambda r: [r.choice(INTS) for _ in range(r.randint(0, 3))],
            lambda r: [r.choice(STRS) for _ in range(r.randint(0, 3))],
        ]
    )(rng)


def gen_int_spec(rng, depth=0):
    choice = rng.randrange(15 if depth == 0 else 7)
    if choice == 12:
        # Coerce in a chain: int(v)/float(v) then a bounds check
        t = rng.choice([int, float])
        v, _ = gen_int_spec(rng, depth + 1)
        return ("All", ("Coerce", t), v), lambda r: r.choice(INTS)
    if choice == 13:
        # SomeOf threads transformed values (validators.py:1243-1249):
        # a Clamp stage feeds the NEXT validator the clamped value
        lo, hi = sorted(rng.sample(INTS, 2))
        a, b = sorted(rng.sample(INTS, 2))
        return (
            ("SomeOf", [("Clamp", lo, hi), ("Range", a, b)],
             rng.randint(1, 2)),
            lambda r: r.choice(INTS),
        )
    if choice == 14:
        return (rng.choice(["IsTrue", "IsFalse"]),), (
            lambda r: r.choice(INTS)
        )
    if choice == 10:
        return ("Maybe", gen_int_spec(rng, depth + 1)[0]), (
            lambda r: r.choice(INTS)
        )
    if choice == 11:
        return rng.choice(INTS), lambda r: r.choice(INTS)  # literal value
    if choice == 0:
        lo, hi = sorted(rng.sample(INTS, 2))
        args = [lo, hi]
        if rng.random() < 0.3:
            args += [rng.random() < 0.5, rng.random() < 0.5]
        return ("Range", *args), lambda r: r.choice(INTS)
    # NOTE mixed-type containers deliberately NOT generated: the
    # reference itself crashes building the failure message
    # (str(sorted(container)) on mixed types raises TypeError,
    # validators.py:849-856) — nothing to be parity-faithful to
    if choice == 1:
        if rng.random() < 0.2:  # msg= kwarg override (validators.py In)
            return (("KW", "In", [_ints(rng, 1, 4)], {"msg": "fz in"}),
                    lambda r: r.choice(INTS))
        return ("In", _ints(rng, 1, 4)), lambda r: r.choice(INTS)
    if choice == 2:
        if rng.random() < 0.2:
            return (("KW", "NotIn", [_ints(rng, 1, 3)], {"msg": "fz notin"}),
                    lambda r: r.choice(INTS))
        return ("NotIn", _ints(rng, 1, 3)), lambda r: r.choice(INTS)
    if choice == 3:
        if rng.random() < 0.2:
            return (("KW", "Equal", [rng.choice(INTS)], {"msg": "fz eq"}),
                    lambda r: r.choice(INTS))
        return ("Equal", rng.choice(INTS)), lambda r: r.choice(INTS)
    if choice == 4:
        lo, hi = sorted(rng.sample(INTS, 2))
        return ("Clamp", lo, hi), lambda r: r.choice(INTS)
    if choice == 5:
        return int, lambda r: r.choice(INTS)
    if choice == 6:
        inner, fn = gen_int_spec(rng, depth + 1)
        if rng.random() < 0.25:
            # Msg(cls=...) re-types the error (schema_builder.py Msg:
            # the custom class carries the message through humanize)
            return (("KW", "Msg", [inner, "typed fuzz message"],
                     {"cls": ("CLS", "RangeInvalid")}), fn)
        return ("Msg", inner, "custom fuzz message"), fn
    if choice == 7:  # All threading: clamp then range
        s1, _ = gen_int_spec(rng, depth + 1)
        s2, fn = gen_int_spec(rng, depth + 1)
        if rng.random() < 0.2:  # All(msg=...) overrides sub-errors
            return ("KW", "All", [s1, s2], {"msg": "fz all"}), fn
        return ("All", s1, s2), fn
    if choice == 8:  # Any of non-transforming int validators
        branches = []
        for _ in range(rng.randint(2, 3)):
            b = rng.choice(
                [("Range", *sorted(rng.sample(INTS, 2))),
                 ("In", _ints(rng, 1, 3)),
                 ("Equal", rng.choice(INTS)), int]
            )
            branches.append(b)
        if rng.random() < 0.2:  # Any(msg=...) overrides the joined error
            return (("KW", "Any", branches, {"msg": "fz any"}),
                    lambda r: r.choice(INTS))
        return ("Any", *branches), lambda r: r.choice(INTS)
    # SomeOf over ranges
    n = rng.randint(2, 3)
    vals = [("Range", *sorted(rng.sample(INTS, 2))) for _ in range(n)]
    min_valid = rng.randint(1, n)
    return ("SomeOf", vals, min_valid), lambda r: r.choice(INTS)


def gen_float_spec(rng, depth=0):
    choice = rng.randrange(6)
    if choice == 4:
        # Clamp with INT bounds over floats: the reference substitutes
        # the bound object itself, changing downstream str(v) rendering
        lo, hi = sorted(rng.sample(INTS[:12], 2))
        return (
            ("All", ("Clamp", lo, hi),
             ("Equal", rng.choice(INTS + FLOATS))),
            lambda r: r.choice(FLOATS),
        )
    if choice == 5:
        # int(v) truncates toward zero in both engines
        return ("Coerce", int), lambda r: r.choice(FLOATS)
    if choice == 0:
        lo, hi = sorted(rng.sample(FLOATS, 2))
        return ("Range", lo, hi), lambda r: r.choice(FLOATS)
    if choice == 1:
        lo, hi = sorted(rng.sample(FLOATS, 2))
        return ("Clamp", lo, hi), lambda r: r.choice(FLOATS)
    if choice == 2:
        return ("Equal", rng.choice(FLOATS)), lambda r: r.choice(FLOATS)
    return float, lambda r: r.choice(FLOATS)


NUM_STRS = ["1234.01", "123456.712", "0.5", "-17", "1e3", "abc", "12345678"]


def gen_str_spec(rng, depth=0):
    choice = rng.randrange(18 if depth == 0 else 9)
    if choice == 15:
        return ("Email",), lambda r: r.choice(EMAILISH + STRS[:4])
    if choice == 16:
        return ("Url",), lambda r: r.choice(URLISH)
    if choice == 17:
        if rng.random() < 0.5:
            fmt, pool = rng.choice(DT_FMT_POOLS)
            return ("Datetime", fmt), lambda r: r.choice(pool)
        return ("Datetime",), lambda r: r.choice(DT_STRS)
    if choice == 12:
        return ("Replace", rng.choice(["a", "an", "[0-9]"]),
                rng.choice(["X", ""])), lambda r: r.choice(STRS)
    if choice == 13:
        p = rng.choice([None, 4, 6, 8])
        s = rng.choice([None, 0, 2])
        return ("Number", p, s), lambda r: r.choice(NUM_STRS)
    if choice == 14:
        return rng.choice(STRS), lambda r: r.choice(STRS)  # literal value
    if choice == 0:
        return ("In", _strs(rng, 1, 4)), lambda r: r.choice(STRS)
    if choice == 1:
        return ("NotIn", _strs(rng, 1, 3)), lambda r: r.choice(STRS)
    if choice == 2:
        lo, hi = sorted(rng.sample(range(0, 8), 2))
        return ("Length", lo, hi), lambda r: r.choice(STRS)
    if choice == 3:
        return ("Match", rng.choice(MATCH_POOL)), lambda r: r.choice(STRS)
    if choice == 4:
        return ("Equal", rng.choice(STRS)), lambda r: r.choice(STRS)
    if choice == 5:
        return str, lambda r: r.choice(STRS)
    if choice == 6:
        return ("Boolean",), lambda r: r.choice(STRS)
    if choice == 7:
        t = rng.choice(["Lower", "Upper", "Strip", "Title", "Capitalize"])
        return (t,), lambda r: r.choice(STRS)
    if choice == 8:
        return ("Coerce", rng.choice([int, float])), (
            lambda r: r.choice(STRS)
        )
    if choice == 9:
        if rng.random() < 0.4:
            fmt, pool = rng.choice(DATE_FMT_POOLS)
            return ("Date", fmt), lambda r: r.choice(pool)
        return ("Date",), lambda r: r.choice(DATE_STRS)
    if choice == 10:  # All chain: transform then validate
        t = rng.choice([("Strip",), ("Lower",)])
        v, fn = gen_str_spec(rng, depth + 2)
        return ("All", t, v), fn
    # Any of non-transforming str validators
    branches = []
    for _ in range(rng.randint(2, 3)):
        branches.append(
            rng.choice(
                [("In", _strs(rng, 1, 3)),
                 ("Match", rng.choice(MATCH_POOL)),
                 ("Length", 1, 4), str]
            )
        )
    return ("Any", *branches), lambda r: r.choice(STRS)


def gen_list_spec(rng):
    elem_kind = rng.choice(["int", "str"])
    pool = INTS if elem_kind == "int" else STRS

    def sample(r):
        return [r.choice(pool) for _ in range(r.randint(0, 4))]

    choice = rng.randrange(8)
    if choice == 0:
        es, _ = (gen_int_spec(rng, 2) if elem_kind == "int"
                 else gen_str_spec(rng, 9))
        if rng.random() < 0.15:
            # Maybe over a sequence schema == Any(None, [es]): element
            # errors outrank the None branch on depth (no None draw —
            # see the Maybe-dict note in gen_dict_spec)
            return ("Maybe", [es]), sample
        return [es], sample
    if choice == 7:
        # NESTED sequence schema [[...]]: deeper-than-index errors abort
        # with the inner errors (schema_builder.py:616-620)
        es, _ = (gen_int_spec(rng, 2) if elem_kind == "int"
                 else gen_str_spec(rng, 9))

        def sample2(r):
            return [[r.choice(pool) for _ in range(r.randint(0, 3))]
                    for _ in range(r.randint(0, 3))]

        return [[es]], sample2
    if choice == 1:
        if rng.random() < 0.25:
            # Any over sequence branches: element errors (runtime index
            # paths) win the deepest-error selection; non-transforming
            # element specs only (the in-branch transform threading is
            # the documented identity-output divergence)
            b1 = [_gen_plain_spec(rng)[0]]
            b2 = rng.choice([
                [_gen_plain_spec(rng)[0]],
                ("Length", 0, rng.randint(1, 3)),
            ])
            return ("Any", b1, b2), sample
        return ("Unique",), sample
    if choice == 2:
        lo, hi = sorted(rng.sample(range(0, 5), 2))
        return ("Length", lo, hi), sample
    if choice == 3:
        n = rng.randint(1, 3)
        vals = [gen_int_spec(rng, 2)[0] for _ in range(n)]
        return ("Unordered", vals), (
            lambda r: [float(r.choice(INTS)) for _ in range(n)]
            if rng.random() < 0.8 else sample(r)
        )
    if choice == 4:
        n = rng.randint(1, 3)
        vals = [gen_int_spec(rng, 2)[0] for _ in range(n)]
        return ("ExactSequence", vals), (
            lambda r: [r.choice(INTS)
                       for _ in range(n if r.random() < 0.7
                                      else r.randint(0, n + 1))]
        )
    if choice == 5:
        # Contains with a possibly-foreign item type
        return ("Contains", rng.choice(INTS + STRS)), sample
    if choice == 6:
        # set/frozenset value schema (schema_builder.py:665-703): members
        # match alternatives; the container CLASS itself is gated
        # ('expected a set' on a list / the sibling set class)
        cls = rng.choice([set, frozenset])
        alts = ([int] if elem_kind == "int" else [str]) + (
            [rng.choice(pool)] if rng.random() < 0.5 else []
        )

        def sample_set(r):
            p = r.random()
            base = [r.choice(pool) for _ in range(r.randint(0, 3))]
            if p < 0.5:
                return cls(base)                      # right class
            if p < 0.7:
                return (frozenset if cls is set else set)(base)  # sibling
            return base                                # plain list
        return cls(alts), sample_set
    return ("Contains", rng.choice(pool)), sample


_NONE_UNSAFE_HEADS = {"Number", "Replace", "UnionDisc", "PyCallable",
                      "CLS", "SelfRef", "AnyReq", "KW", "err"}


def _none_safe(spec) -> bool:
    """May an EXPLICIT ``None`` value be drawn for a key with this value
    spec?  True only when the engine's driver-side ``none_verdict`` covers
    every node the spec can compile to (schema._resolve_doc_nones); heads
    the verdict bails on (discriminant Unions, Number/Replace crash-parity,
    custom classes, callables) keep the documented NULL-is-absent
    divergence and are excluded from the None draw."""
    if isinstance(spec, tuple):
        if spec and spec[0] in _NONE_UNSAFE_HEADS:
            return False
        return all(_none_safe(s) for s in spec[1:])
    if isinstance(spec, dict):
        for k, v in spec.items():
            if isinstance(k, tuple) and k[0] in ("Exclusive", "Inclusive"):
                return False
            if not _none_safe(v):
                return False
        return True
    if isinstance(spec, (list, set, frozenset)):
        return all(_none_safe(s) for s in spec)
    return True


def gen_dict_spec(rng, depth):
    sub = {}
    samplers = {}
    group_keys = set()
    for i in range(rng.randint(1, 2)):
        k = f"n{i}"
        s, fn = gen_value_spec(rng, depth + 1)
        sub[k] = s
        samplers[k] = fn
    if rng.random() < 0.12:
        # NESTED Exclusive/Inclusive group pair: the reference runs
        # group checks at every mapping level (schema_builder.py:530-571)
        marker = rng.choice(["Exclusive", "Inclusive"])
        for g in ("h0", "h1"):
            gspec, gfn = _gen_plain_spec(rng)
            sub[(marker, g, "hgrp")] = gspec
            samplers[g] = gfn
            group_keys.add(g)

    def sample(r):
        return {
            k: fn(r) for k, fn in samplers.items()
            if k not in group_keys or r.random() > 0.45
        }

    # explicit-None draw for nested keys the resolution walk reaches
    # (plain-dict and Schema-instance values only; wrapper branches
    # below keep the None-free sampler — their nested Nones stay on the
    # documented NULL-is-absent path)
    none_ok = (set() if group_keys else {
        k for k, s in sub.items()
        if isinstance(k, str) and _none_safe(s)
    })

    def sample_nones(r):
        d = sample(r)
        for k in list(d):
            if k in none_ok and r.random() < 0.12:
                d[k] = None
        return d

    def _strip_nones(d):
        # message-rewriting wrappers (Msg) block the driver-resolution
        # walk: explicit Nones under them keep the documented
        # NULL-is-absent rule, so the grammar does not draw them there
        if isinstance(d, dict):
            return {k: _strip_nones(v) for k, v in d.items()
                    if v is not None}
        return d

    def sample_stripped(r):
        return _strip_nones(sample(r))

    p = rng.random()
    if p < 0.1:
        # dynamic-key map schema {str: v} (schema_builder.py:469-488):
        # every entry's key matches the key schema, value the value
        # schema; rides a MapType column here
        vkind = rng.choice(["int", "str"])
        vspec, vfn = (gen_int_spec(rng, 2) if vkind == "int"
                      else gen_str_spec(rng, 9))

        def sample_map(r):
            return {
                f"m{j}": vfn(r) for j in range(r.randint(0, 3))
            }
        kp = rng.random()
        key = (("Required", str) if kp < 0.25
               else ("Optional", str) if kp < 0.4 else str)
        return {key: vspec}, sample_map
    if p < 0.16:
        # Maybe over a dict schema == Any(None, dict): inner field
        # errors outrank the None branch on depth. A literal None value
        # is NOT drawn (a null cell reads as an absent key — the
        # engine-wide documented divergence — which under required=True
        # would flag mismatches that aren't parity bugs); the null-pass
        # path is frozen in test_reference_parity CASES instead.
        return ("Maybe", sub), sample_nones
    if p < 0.28:
        # Msg over a nested dict schema: the depth<=1 override rule
        # (schema_builder.py:946-949) — only direct descendants get the
        # custom message. Nested explicit Nones are stripped: Msg blocks
        # the driver-resolution walk (documented NULL-is-absent there)
        return ("Msg", sub, "fuzz dict message"), sample_stripped
    if p < 0.32:
        # Schema instance as the value: callable re-entry with its OWN
        # required flag and boundary-key path prepend
        return ("Schema", sub, rng.random() < 0.5), sample_nones
    if p < 0.40 and depth < 2:
        # Union with the canonical tag discriminant (validators.py:
        # 343-382): branches are dicts whose literal 'tag' routes the
        # candidate set; wrong-tag docs must surface the selected
        # branch's errors, not a flat Any sweep
        tags = ["a", "b"]
        branches = []
        bsamplers = []
        for t in tags:
            vs, vfn = _gen_plain_spec(rng)
            branches.append({"tag": t, "val": vs})
            bsamplers.append(vfn)

        def sample_union(r):
            i = r.randrange(len(tags))
            d = {"tag": tags[i], "val": bsamplers[i](r)}
            if r.random() < 0.25:  # cross-tag value draw
                d["val"] = bsamplers[1 - i](r)
            if r.random() < 0.1:
                d["tag"] = "zz"  # no branch matches the tag
            return d
        return ("UnionDisc", *branches), sample_union
    if p < 0.46 and depth < 2:
        # Any over dict-schema branches: the deepest-path error rule
        # (validators.py:330-336) surfaces the inner field error.
        # Branches are built from NON-transforming specs only —
        # transforming validators inside Any are a documented
        # by-design divergence the grammar excludes.
        def _branch(r):
            n = r.randint(1, 2)
            sub_b, fns = {}, {}
            for j in range(n):
                sub_b[f"b{j}"], fns[f"b{j}"] = _gen_plain_spec(r)
            return sub_b, (lambda rr, fns=fns: {
                k: fn(rr) for k, fn in fns.items()
                if rr.random() > 0.15
            })
        s1, f1 = _branch(rng)
        s2, f2 = _branch(rng)

        def sample_any(r):
            return (f1 if r.random() < 0.5 else f2)(r)
        return ("Any", s1, s2), sample_any
    return sub, sample_nones


def _gen_plain_spec(rng):
    """A NON-transforming scalar spec (safe inside Any/Union branches:
    no Clamp/Coerce/case-fold, whose in-branch threading is a documented
    divergence)."""
    if rng.random() < 0.5:
        spec = rng.choice(
            [("Range", *sorted(rng.sample(INTS, 2))),
             ("In", _ints(rng, 1, 3)),
             ("Equal", rng.choice(INTS)), int,
             rng.choice(INTS)]
        )
        return spec, lambda r: r.choice(INTS)
    spec = rng.choice(
        [("In", _strs(rng, 1, 3)),
         ("Match", rng.choice(MATCH_POOL)),
         ("Length", 1, 4), str, rng.choice(STRS)]
    )
    return spec, lambda r: r.choice(STRS)


def gen_value_spec(rng, depth=0):
    kinds = ["int", "float", "str", "list"]
    if depth < 2:
        kinds.append("dict")
    kind = rng.choice(kinds)
    if kind == "int":
        return gen_int_spec(rng)
    if kind == "float":
        return gen_float_spec(rng)
    if kind == "str":
        return gen_str_spec(rng)
    if kind == "list":
        return gen_list_spec(rng)
    return gen_dict_spec(rng, depth)


def gen_mixed_any_spec(rng):
    """``Any`` whose live branches TRANSFORM to different, non-unifiable
    output types — THE one frozen output divergence (round-4 verdict
    #8): the reference threads the winning branch's value regardless of
    type (validators.py:322-336); a Spark column has exactly one static
    type, so the engine degrades these to validation-only IDENTITY
    output (Any.bind, dsl.py). The fuzz therefore checks, for these
    keys only, that accept/reject and errors STILL match exactly and
    that the engine's output is precisely the input value — proving the
    divergence is confined to the documented value-threading rule."""
    lo, hi = sorted(rng.sample(INTS, 2))
    specs = [
        # str input: int-producing vs str-identity branches
        (("Any", ("Coerce", int), ("Match", r"\S")),
         lambda r: r.choice(STRS)),
        # str input: float-producing vs membership (str) branches
        (("Any", ("Coerce", float), ("In", _strs(rng, 1, 3))),
         lambda r: r.choice(STRS)),
        # int input: str-producing vs int-range branches
        (("Any", ("Coerce", str), ("Range", lo, hi)),
         lambda r: r.choice(INTS)),
        # str input: transformer (str) vs float-producing branches
        (("Any", ("Upper",), ("Coerce", float)),
         lambda r: r.choice(STRS)),
    ]
    return rng.choice(specs)


def gen_case(seed):
    """One fuzz case: (spec_dict, schema_kwargs, docs, mixed_keys)."""
    rng = random.Random(seed)
    kw = {}
    if rng.random() < 0.25:
        kw["extra"] = rng.choice([0, 1, 2])
    kw_extra_pending = kw.get("extra") == 2
    if rng.random() < 0.15:
        kw["required"] = True
    nkeys = rng.randint(1, 3)
    schema = {}
    samplers = []  # (key, sample_fn, marker)
    key_specs = {}
    for i in range(nkeys):
        key = f"k{i}"
        spec, fn = gen_value_spec(rng)
        key_specs[key] = spec
        p = rng.random()
        if p < 0.08:
            # Remove: value never validated, key dropped from the output
            kspec = ("Remove", key)
        elif p < 0.25:
            # sometimes with a marker-level msg= (the Required message
            # replaces 'required key not provided' on absence)
            kspec = (("Required", key, f"fz need {key}")
                     if rng.random() < 0.25 else ("Required", key))
        elif p < 0.40:
            # Optional, sometimes with a scalar default injected on
            # absence (list defaults would make the key spec unhashable)
            dflt = fn(rng)
            if rng.random() < 0.4 and isinstance(dflt, (int, float, str)):
                kspec = ("Optional", key, None, dflt)
            else:
                kspec = ("Optional", key)
        else:
            kspec = key
        schema[kspec] = spec
        samplers.append((key, fn))
    group_keys = ()
    if rng.random() < 0.18:
        # Exclusive (<=1 of group present, schema_builder.py:536-553) /
        # Inclusive (all-or-none, :555-571) key pair sharing one group
        marker = rng.choice(["Exclusive", "Inclusive"])
        gmsg = rng.random() < 0.25  # marker-level msg= on the group pair
        for g in ("g0", "g1"):
            gspec, gfn = _gen_plain_spec(rng)
            schema[(marker, g, "grp", "fz group msg") if gmsg
                   else (marker, g, "grp")] = gspec
            samplers.append((g, gfn))
        group_keys = ("g0", "g1")
    if rng.random() < 0.12:
        # bare Python callable validator raising module-local Invalid
        # ('callables are validators', schema_builder.py:800-811)
        schema["kc"] = (
            ("PyCallable", rng.choice(["is_even", "half"]))
            if rng.random() < 0.7
            else ("All", ("PyCallable", "is_even"),
                  ("Range", *sorted(rng.sample(INTS, 2))))
        )
        samplers.append(("kc", lambda r: r.choice(INTS)))
    docs = []
    for _ in range(3):
        doc = {}
        for key, fn in samplers:
            # group keys get a fat absence rate so all four
            # present/absent combinations of the pair are drawn
            if rng.random() < (0.45 if key in group_keys else 0.12):
                continue  # absent key
            # explicit-None draw (single-doc resolution path); skipped
            # when a group pair was drawn — presence-counting levels
            # keep the documented NULL-is-absent rule
            if (not group_keys and rng.random() < 0.10
                    and key in key_specs and _none_safe(key_specs[key])):
                doc[key] = None
                continue
            # wild draw: a value of a random type, exercising the
            # cross-type (Python-semantics) degradation paths
            doc[key] = _wild(rng) if rng.random() < 0.15 else fn(rng)
        if kw.get("extra") is not None and rng.random() < 0.3:
            doc["zz_extra"] = rng.choice(STRS)
        if not group_keys and rng.random() < 0.08:
            # explicit-None EXTRA key: exercises all three extra policies
            # (reference keeps it under ALLOW, drops under REMOVE, errors
            # under the PREVENT default)
            doc["zz_none"] = None
        docs.append(doc)
    mixed_keys = ()
    if rng.random() < 0.30:
        # the frozen mixed-type Any output divergence (round-4 verdict
        # #8): generated on purpose, compared under the masked rule in
        # main() — accept/reject and errors must match EXACTLY, the
        # engine's output at this key must be the identity input
        mspec, mfn = gen_mixed_any_spec(rng)
        schema["km"] = mspec
        mixed_keys = ("km",)
        for doc in docs:
            if rng.random() < 0.85:
                doc["km"] = mfn(rng)
    if kw_extra_pending and _has_dict_branch_combinator(schema):
        # REMOVE_EXTRA pruning INSIDE an Any/Union dict branch is the
        # documented identity-output divergence (a branch-dependent
        # output struct type is not expressible as one column type, fuzz
        # seed 9910) — downgrade to a policy the engine transforms
        kw["extra"] = rng.choice([0, 1])
    return schema, kw, docs, mixed_keys


def _has_dict_branch_combinator(spec) -> bool:
    if isinstance(spec, tuple):
        if spec and spec[0] in ("Any", "UnionDisc") and any(
            isinstance(b, dict) for b in spec[1:]
        ):
            return True
        return any(_has_dict_branch_combinator(x) for x in spec)
    if isinstance(spec, dict):
        return any(
            _has_dict_branch_combinator(k) for k in spec
            if isinstance(k, tuple)
        ) or any(_has_dict_branch_combinator(v) for v in spec.values())
    if isinstance(spec, (list, set, frozenset)):
        return any(_has_dict_branch_combinator(x) for x in spec)
    return False


_DUPES_RE = None


def _norm_outcome(outcome):
    """Canonicalize hash-seed-dependent renderings: the reference's
    Unique builds its duplicate list via ``list(set(...))``
    (validators.py:966-967) whose string order depends on
    PYTHONHASHSEED — sort the bracketed items on both sides."""
    global _DUPES_RE
    import re as _re

    if _DUPES_RE is None:
        _DUPES_RE = _re.compile(r"(contains duplicate items: )\[([^\]]*)\]")
    if outcome[0] != "err":
        return outcome

    def _fix(m):
        items = sorted(x.strip() for x in m.group(2).split(",") if x.strip())
        return m.group(1) + "[" + ", ".join(items) + "]"

    return ("err", sorted(_DUPES_RE.sub(_fix, s) for s in outcome[1]))


def main():
    arg1 = sys.argv[1] if len(sys.argv) > 1 else "0"
    if "," in arg1:  # explicit seed list: re-verify prior mismatches
        seeds = [int(s) for s in arg1.split(",") if s]
        start, n = seeds[0], len(seeds)
    else:
        start = int(arg1)
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 200
        seeds = list(range(start, start + n))

    sys.path.insert(0, "/root/reference")
    import voluptuous as ref  # read-only reference checkout

    from test_reference_parity import _eq, _mk, _run_engine

    from voluptuous_spark.session import get_spark

    spark = get_spark(
        shuffle_partitions=2, extra_conf={"spark.ui.enabled": "false"}
    )
    mismatches = 0
    checked = 0
    frozen_hits = 0  # documented mixed-Any output divergences observed
    for seed in seeds:
        schema, kw, docs, mixed_keys = gen_case(seed)
        try:
            rschema = ref.Schema(_mk(ref, schema), **kw)
        except Exception as e:  # reference rejects the schema itself
            rschema = None
            construct_err = type(e).__name__
        for doc in docs:
            checked += 1
            if rschema is None:
                expected = ("schema_err", construct_err)
            else:
                try:
                    expected = ("ok", rschema(dict(doc)))
                except ref.MultipleInvalid as e:
                    expected = ("err", sorted(str(x) for x in e.errors))
                except ref.Invalid as e:
                    expected = ("err", [str(e)])
                except Exception:
                    # the reference CRASHED outside its own error model
                    # (e.g. Replace/re.sub on a non-string raises raw
                    # TypeError) — nothing to be parity-faithful to
                    expected = ("ref_crash", None)
            try:
                got = _run_engine(spark, schema, doc, **kw)
            except Exception as e:
                got = ("schema_err", type(e).__name__)
            expected = _norm_outcome(expected)
            got = _norm_outcome(got)
            ok = (
                got == expected
                or (
                    expected[0] == "ok"
                    and got[0] == "ok"
                    and _eq(got[1], expected[1])
                )
                # both reject the schema itself: exact exception class
                # naming is not part of the parity contract
                or (expected[0] == "schema_err" and got[0] == "schema_err")
                or expected[0] == "ref_crash"
            )
            if not ok and mixed_keys and expected[0] == got[0] == "ok":
                # the frozen divergence: values may differ ONLY at the
                # mixed-Any keys, where the engine's output must be the
                # identity input (dsl.py Any.bind degrade; reference
                # threads the branch value, validators.py:322-336)
                em = {k: v for k, v in expected[1].items()
                      if k not in mixed_keys}
                gm = {k: v for k, v in got[1].items() if k not in mixed_keys}
                identity = all(
                    k in got[1] and _eq(got[1][k], doc[k])
                    for k in mixed_keys if k in doc
                )
                if _eq(gm, em) and identity and (
                    set(expected[1]) == set(got[1])
                ):
                    frozen_hits += 1
                    ok = True
            if not ok:
                mismatches += 1
                print(f"MISMATCH seed={seed}")
                print(f"  schema={schema!r} kw={kw!r}")
                print(f"  doc={doc!r}")
                print(f"  ref   ={expected!r}")
                print(f"  engine={got!r}")
    print(f"\n{checked} docs checked, {mismatches} mismatches, "
          f"{frozen_hits} frozen mixed-Any output divergences "
          f"(identity-verified) (seeds {start}..{start + n - 1})")
    sys.exit(1 if mismatches else 0)


if __name__ == "__main__":
    # the reference import must NOT shadow: voluptuous only exists in
    # /root/reference, inserted above before the harness import
    main()
