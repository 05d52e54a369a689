"""``get_spark`` start-up failures name the setting to change."""

import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

_PROBE = """
from voluptuous_spark.session import get_spark
try:
    get_spark()
except RuntimeError as e:
    print(type(e.__cause__).__name__)
    print(e)
"""


def test_jvm_start_failure_names_memory_env():
    # a malformed heap size makes the JVM exit before it allocates anything
    env = dict(os.environ, SPARK_DRIVER_MEMORY="notasize",
               SPARK_OFFHEAP_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    cause, msg = out.stdout.strip().splitlines()
    assert cause == "PySparkRuntimeError"
    assert "driver heap notasize" in msg and "off-heap 1g" in msg
    assert "SPARK_DRIVER_MEMORY" in msg and "SPARK_OFFHEAP_MEMORY" in msg
