"""SparkSession factory with scale-appropriate defaults."""

from __future__ import annotations

import os
import weakref

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession


_GB = 1 << 30
# preferred sizes on a large host; a smaller host clamps both to a share
# of its memory so the JVM can start at all
_HEAP_TARGET = 24 * _GB
_OFFHEAP_TARGET = 16 * _GB


def _host_memory_bytes() -> int | None:
    """Physical memory, or the cgroup (v2 or v1) limit when that is
    lower; None when neither can be read."""
    sizes = []
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    sizes.append(int(line.split()[1]) * 1024)
    except OSError:
        pass
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                sizes.append(int(f.read().strip()))
        except (OSError, ValueError):  # absent, or "max"
            pass
    return min(sizes) if sizes else None


def _memory_settings() -> tuple[str, str, str]:
    """(driver heap, off-heap size, heap JVM flags). The env overrides
    ``SPARK_DRIVER_MEMORY`` / ``SPARK_OFFHEAP_MEMORY`` are taken as given,
    with Xms=Xmx pre-touched as before. Otherwise the heap is at most 50%
    and the off-heap at most 15% of host memory, and the heap is
    pre-touched only when the full 24g target fits under that cap:
    pre-faulting half of a small host's memory would starve everything
    else on it."""
    heap = os.environ.get("SPARK_DRIVER_MEMORY")
    offheap = os.environ.get("SPARK_OFFHEAP_MEMORY")
    host = _host_memory_bytes() or 4 * _HEAP_TARGET
    pretouch = heap is not None
    if heap is None:
        heap_b = min(_HEAP_TARGET, host // 2)
        pretouch = heap_b == _HEAP_TARGET
        heap = f"{heap_b >> 20}m"
    if offheap is None:
        offheap = f"{min(_OFFHEAP_TARGET, host * 15 // 100) >> 20}m"
    flags = "-XX:G1HeapRegionSize=32m"
    if pretouch:
        flags = f"-Xms{heap} {flags} -XX:+AlwaysPreTouch"
    return heap, offheap, flags


def get_spark(
    app_name: str = "voluptuous_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a session.

    Defaults chosen for the validation workload:
    - AQE on (runtime shuffle coalescing + skew-join splitting — the codec
      column is intentionally skewed, FIXTURES.md F1);
    - Arrow enabled for the pandas-UDF PCM validators, with a bounded batch
      size so binary audio payloads don't blow executor memory;
    - shuffle partitions sized to cores locally (cluster deployments
      override via spark.sql.shuffle.partitions / AQE coalescing);
    - a generated-code cache of 1000 classes
      (``spark.sql.codegen.cache.maxEntries``). It is a static conf: a
      session built elsewhere must set it before its SparkContext starts.
      With Spark's default of 100, each warm ``run_suite`` op recompiles
      about 30 classes.

    When the JVM cannot start (say, a heap size it rejects or cannot
    reserve), this raises one ``RuntimeError`` that names the heap and
    off-heap sizes asked for and the ``SPARK_DRIVER_MEMORY`` /
    ``SPARK_OFFHEAP_MEMORY`` overrides; the JVM's own reason is on
    stderr.
    """
    master = master or os.environ.get("SPARK_MASTER", None)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    elif not SparkSession.getActiveSession():
        b = b.master(f"local[{cpus}]")
    driver_mem, offheap_mem, heap_flags = _memory_settings()
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or cpus),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Arrow batches sized for ~25-60KB audio payloads (~4-8MB/batch).
        # Large batches (default 10000 rows) create 100MB+ JVM<->Python
        # round-trips that stall the pipeline at high task concurrency —
        # measured 22s -> 2.3s on an 80k-clip PCM pass at local[32].
        "spark.sql.execution.arrow.maxRecordsPerBatch": "128",
        # smaller splits keep per-task Arrow streams short for wide binary
        # rows; at cluster scale tune with row-group size instead
        "spark.sql.files.maxPartitionBytes": "64m",
        "spark.sql.session.timeZone": "UTC",
        # PySpark 4 wraps EVERY Column/DataFrame API call with call-site
        # capture for error context: a Python stack walk plus THREE extra
        # py4j round trips per call (conf.get + origin set/clear). The
        # compiled validators issue thousands of Column calls per schema;
        # measured ~40% of plan-construction wall time on the flagship
        # query. Error paths still raise typed exceptions — only the
        # "user line number" decoration is lost.
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # The engine performs its own common-subexpression elimination
        # (each field's error CASE chain is computed once as a hidden
        # stage-1 column); Spark's codegen-level CSE adds nothing here,
        # measured slightly slower on every heavy validate query, and its
        # generated code hits a Janino compile bug ("isNull_N is not an
        # rvalue") on ExactSequence/Unordered element checks, forcing
        # those stages into interpreted fallback
        "spark.sql.subexpressionElimination.enabled": "false",
        # InferFiltersFromGenerate copies the ENTIRE violations-array
        # expression (every field's error CASE chain) into a
        # Filter(size(__errors) > 0) below the explode. The generate
        # input is always a computed array here — never a source column —
        # so the inferred filter cannot push down to the scan; it only
        # re-evaluates the whole chain a second time, and its generated
        # code trips the same Janino bug ("isNull_N is not an rvalue"),
        # dropping the stage to interpreted mode. Excluding the rule is
        # both the codegen fix and a ~2x saving on the violations path.
        "spark.sql.optimizer.excludedRules":
            "org.apache.spark.sql.catalyst.optimizer."
            "InferFiltersFromGenerate",
        # Compiled whole-stage and projection classes are cached per JVM,
        # keyed by their generated source, in a cache of 100 entries by
        # default. A cold clips run_suite op compiles 98 classes and the
        # session's setup 4 more, so the default evicted part of that
        # working set and every warm op recompiled 24-41 classes. 1000
        # holds it with room for the 54 oracle queries (a strict pass
        # compiles about 560). Static conf: it only counts when this
        # builder starts the SparkContext.
        "spark.sql.codegen.cache.maxEntries": "1000",
        # local mode: the driver heap IS the executor heap; 32 concurrent
        # tasks each buffering multi-MB audio batches need real headroom
        # (8g produced GCLocker allocation stalls at local[32])
        "spark.driver.memory": driver_mem,
        # Binary-column scans: the vectorized reader's default 4096-row
        # columnar batch over 30-300KB audio payloads is a 100MB+ on-heap
        # array — a G1 "humongous" allocation at any region size. At 32
        # concurrent tasks these storm the allocator (measured: full-table
        # scan 5.5s at local[8] vs 77.6s at local[32]). 64-row batches
        # (~2-18MB depending on clip length) + 32MB G1 regions keep every
        # batch a regular allocation (measured on 85KB-avg clips: warm scan
        # 2.3s at 512 rows vs 1.8s at 64, and 5x less first-run jitter).
        # Xms=Xmx + AlwaysPreTouch (where _memory_settings applies it)
        # pre-faults the heap once — a VM kernel page-fault path was
        # measured expensive (sys time 6x user time), so faulting pages at
        # allocation time serializes the executors.
        "spark.sql.parquet.columnarReaderBatchSize": "64",
        # Off-heap column vectors: binary audio batches are decoded into
        # unsafe memory instead of byte[] churn in the G1 young gen —
        # measured: the same warm scan is 2-4x steadier run-to-run and
        # first-run cost drops ~2x at local[32]. On a real cluster this is
        # the standard config for scan-heavy executors.
        "spark.sql.columnVector.offheap.enabled": "true",
        "spark.memory.offHeap.enabled": "true",
        "spark.memory.offHeap.size": offheap_mem,
        "spark.driver.extraJavaOptions": heap_flags,
        # cluster deployments: the same flags go on the executors
        "spark.executor.extraJavaOptions":
            "-XX:G1HeapRegionSize=32m -XX:+AlwaysPreTouch",
    }
    conf.update(extra_conf or {})
    for k, v in conf.items():
        b = b.config(k, v)
    try:
        return b.getOrCreate()
    except PySparkRuntimeError as e:
        if e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        raise RuntimeError(
            f"the JVM did not start with driver heap "
            f"{conf['spark.driver.memory']} and off-heap "
            f"{conf['spark.memory.offHeap.size']}; set SPARK_DRIVER_MEMORY "
            "and SPARK_OFFHEAP_MEMORY to sizes this host can hold (e.g. "
            "4g); the JVM's own message is on stderr") from e


_SESSION_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def session_memo(spark: SparkSession, key, build):
    """``build()``, computed once per session and ``key``.

    For Column trees that a check applies on every call: building one
    costs a py4j round trip per node, while an unresolved Column holds no
    data and serves every DataFrame of the session. Entries go when the
    session object does."""
    memo = _SESSION_MEMO.setdefault(spark, {})
    if key not in memo:
        memo[key] = build()
    return memo[key]
