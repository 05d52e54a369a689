"""Seeded single-document inputs for the ``doc_calls`` workload.

Every block of ten documents holds seven flat clip-metadata documents, two
nested list-of-dict documents and one document whose mixed-type list takes
the driver-resolution path of ``Schema.__call__``. One document per block is
invalid; its kind cycles through flat, nested and driver. One flat document
per block carries a fresh ``meta_<n>`` key, so its shape is new and the
compiled-plan cache misses; the others repeat a handful of shapes and hit
it. Fixing these counts per block keeps the cost of a block steady across
seeds.

The blocks follow a shorter warm-up prefix: one flat, one nested and one
driver-path document, then an invalid flat one, so that every kind and the
error path have run once before the first block.
"""

from __future__ import annotations

import random

from voluptuous_spark import Any, Coerce, Optional, Required, Schema
from voluptuous_spark.suite import CLIPS_SCHEMA, VALID_CODECS, VALID_SRS

NESTED_SCHEMA = Schema({
    Required("utt_id"): str,
    Required("segments"): [{
        Required("start_ms"): Coerce(int),
        Required("end_ms"): int,
        Optional("speaker", default="unk"): str,
    }],
    Optional("lang", default="en"): str,
})
MIXED_SCHEMA = Schema({Required("clip_id"): str, Required("tags"): [Any(int, str)]})

SCHEMAS = {"flat": CLIPS_SCHEMA, "nested": NESTED_SCHEMA, "driver": MIXED_SCHEMA}
BLOCK = ["flat"] * 7 + ["nested"] * 2 + ["driver"]
WARMUP = ["flat", "nested", "driver", "flat"]
WORDS = "the quick brown fox jumps over lazy dog audio speech".split()


def documents(seed: int, n: int) -> list[tuple[str, dict, object, bool]]:
    """The warm-up prefix, then ``n`` documents in blocks, each as (kind,
    document, expected, invalid); ``expected`` is the known outcome for the
    driver kind, which no DataFrame can carry, and None for the kinds
    checked against ``Schema.validate``."""
    rng = random.Random(seed)
    out = [_doc(rng, kind, j == len(WARMUP) - 1, False, j)
           for j, kind in enumerate(WARMUP)]
    n += len(WARMUP)
    while len(out) < n:
        kinds = BLOCK[:]
        rng.shuffle(kinds)
        block = (len(out) - len(WARMUP)) // len(BLOCK)
        bad_kind = ("flat", "nested", "driver")[block % 3]
        bad = rng.choice([j for j, k in enumerate(kinds) if k == bad_kind])
        fresh = rng.choice([j for j, k in enumerate(kinds) if k == "flat"])
        for j, kind in enumerate(kinds):
            out.append(_doc(rng, kind, j == bad, j == fresh, len(out)))
    return out[:n]


def _doc(rng: random.Random, kind: str, invalid: bool, fresh: bool, k: int):
    if kind == "flat":
        d = {
            "clip_id": f"clip_{k:08d}",
            "sr_hz": rng.choice(VALID_SRS),
            "dur_ms": rng.randint(240, 720),
            "codec": rng.choice(VALID_CODECS),
            "transcript": " ".join(rng.choices(WORDS, k=rng.randint(2, 8))),
        }
        if rng.random() < 0.5:
            d["lang"] = rng.choice(["en", "de", "fr"])
        if fresh:
            d[f"meta_{k}"] = "x"
        if invalid:
            field, value = rng.choice([
                ("sr_hz", 12345), ("dur_ms", 0), ("codec", "ogg"),
                ("transcript", " leading space"),
            ])
            d[field] = value
        return kind, d, None, invalid
    if kind == "nested":
        with_speaker = rng.random() < 0.5
        segs = []
        for _ in range(rng.randint(1, 3)):
            s = rng.randrange(0, 10_000)
            seg = {"start_ms": str(s), "end_ms": s + rng.randrange(1, 500)}
            if with_speaker:
                seg["speaker"] = rng.choice(["a", "b"])
            segs.append(seg)
        if invalid:
            segs[rng.randrange(len(segs))]["start_ms"] += "x"
        d = {"utt_id": f"utt_{k:08d}", "segments": segs}
        if rng.random() < 0.5:
            d["lang"] = rng.choice(["en", "de"])
        return kind, d, None, invalid
    tags: list = [rng.randrange(100), f"t{rng.randrange(100)}",
                  rng.choice([rng.randrange(100), f"t{rng.randrange(100)}"])]
    rng.shuffle(tags)
    d = {"clip_id": f"clip_{k:08d}", "tags": tags}
    if invalid:
        j = rng.randrange(len(tags))
        tags[j] = tags[j] + 0.5 if isinstance(tags[j], int) else 1.5
        return kind, d, ("err", [f"expected int @ data['tags'][{j}]"]), True
    return kind, d, ("ok", {"clip_id": d["clip_id"], "tags": list(tags)}), False


def shape(doc) -> object:
    """A hashable description of a document's keys and value types."""
    if isinstance(doc, dict):
        return tuple(sorted((k, shape(v)) for k, v in doc.items()))
    if isinstance(doc, list):
        return ("list",) + tuple(sorted({repr(shape(v)) for v in doc}))
    return type(doc).__name__
