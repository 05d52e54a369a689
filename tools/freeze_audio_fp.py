"""Regenerate entry_ext3._AFP_FROZEN: the 64-bit spectral fingerprints
of the deterministic oracle clip fixture, frozen into the
audio_near_dups DuckDB oracle so the driver gate can replay the banded
LSH join in pure SQL while Spark runs the real decode->FFT->LSH path.

Usage: python tools/freeze_audio_fp.py
Paste the printed literal over _AFP_FROZEN in entry_ext3.py whenever the
fixture (datasynth.oracle_clips_df) or the fingerprint parameters
(audio_fingerprints defaults) change.
"""

import sys
from pathlib import Path

# import the checkout this script lives in, not an installed copy
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    from voluptuous_spark.audio import audio_fingerprints
    from voluptuous_spark.datasynth import oracle_clips_df
    from voluptuous_spark.session import get_spark

    from entry_ext3 import N_ORACLE_CLIPS

    spark = get_spark(
        app_name="freeze_audio_fp", shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )
    rows = (
        audio_fingerprints(oracle_clips_df(spark, N_ORACLE_CLIPS))
        .select("clip_id", "afp")
        .orderBy("clip_id")
        .collect()
    )
    pairs = [(r["clip_id"], r["afp"]) for r in rows if r["afp"] is not None]
    print("_AFP_FROZEN = [")
    for c, f in pairs:
        print(f"    ({c}, {f}),")
    print("]")


if __name__ == "__main__":
    main()
