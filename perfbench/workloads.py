"""The benchmark's workloads. Each is a closed loop with one client: the
next op starts when the previous one has returned.

A workload builds its inputs from the seed in ``setup``, runs one timed
``op``, and checks the op's outputs in ``check``, outside the timed region.
``layers`` turns the traced run's spans into per-layer metrics.
"""

from __future__ import annotations

import collections
import os
import shutil
import statistics
import time

from pyspark.sql import functions as F

from voluptuous_spark import datasynth, suite
from voluptuous_spark.audio import pcm_check_expr
from voluptuous_spark.checkpoint import CheckpointedValidation
from voluptuous_spark.checks import sketches
from voluptuous_spark.exceptions import MultipleInvalid, invalid_from_row
from voluptuous_spark.schema import Schema

import docs

MB = 1024 * 1024


def _med(values, scale=1.0):
    return statistics.median(values) * scale if values else 0.0


def _mean(values):
    return sum(values) / len(values) if values else 0.0


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def spark_layers(tracer, log, ops, slots: int) -> dict:
    """Executor-side totals of the measured ops, per op."""
    jobs = set().union(*(s.jobs for s in ops)) if ops else set()
    t = log.totals(jobs)
    n = max(len(ops), 1)
    wall_s = sum(s.ms for s in ops) / 1000.0
    return {
        "spark.jobs": (len(jobs) / n, "count"),
        "spark.tasks": (t["tasks"] / n, "count"),
        "spark.executor_run_s": (t["run_ms"] / 1000.0 / n, "s"),
        "spark.executor_cpu_s": (t["cpu_ns"] / 1e9 / n, "s"),
        "spark.gc_s": (t["gc_ms"] / 1000.0 / n, "s"),
        "spark.slot_util": (t["run_ms"] / 1000.0 / (wall_s * slots)
                            if wall_s else 0.0, "frac"),
        "spark.shuffle_read_mb": (t["shuffle_read"] / MB / n, "MB"),
        "spark.shuffle_write_mb": (t["shuffle_write"] / MB / n, "MB"),
        "spark.spill_mb": (t["spill"] / MB / n, "MB"),
        "py4j.calls_per_op": (_mean([s.py4j_calls for s in ops]), "count"),
    }


def _span_stats(tracer, name, ops, prefix, ms_key="_ms", jobs_key=".jobs"):
    spans = tracer.of(name, within=ops)
    return {
        prefix + ms_key: (_med([s.ms for s in spans]), "ms"),
        prefix + jobs_key: (_mean([len(s.jobs) for s in spans]), "count"),
    }


# ---------------------------------------------------------------------------
class Workload:
    warmup = 1  # untimed ops before measuring; they count in setup_s
    block = 1  # the measured op count is a multiple of this

    @staticmethod
    def kind(out) -> str:
        return "op"

    def setup(self) -> None:
        pass

    def finish(self) -> dict[int, list[str]]:
        """Checks made once after the measured ops, by op index."""
        return {}


class ClipsSuite(Workload):
    """The read path: one op is ``run_suite`` over a seeded clips table,
    then forcing ``violations`` and ``counts()``."""

    name = "clips_suite"
    # an op costs about the same at 500, 4,000 or 8,000 clips (it is
    # driver-bound), so the table is kept small and the time goes to ops
    n_clips = 4000
    warmup = 2
    # warmed ops still get a little faster op after op, so every run times
    # the same ordinal ops: one block, which outlasts --seconds. Five ops,
    # so that a slow stretch of a few seconds on the host moves the median less
    block = 5

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.seed, self.work, self.tracer = spark, seed, work, tracer
        self.items_per_op = self.n_clips
        self.layer_setup: dict = {}
        self.expected: dict | None = None

    def _write_clips(self) -> None:
        path = f"{self.work}/clips"
        datasynth.write_clips(self.spark, self.n_clips, path, seed=self.seed,
                              min_ms=240, spread_ms=480)
        self.clips = self.spark.read.parquet(f"{path}/clips.parquet")
        self.transcripts = self.spark.read.parquet(f"{path}/transcripts.parquet")
        self.parquet_bytes = _dir_bytes(path)

    def setup(self) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("datasynth.write"):
            self._write_clips()
        self.layer_setup["datasynth.write_s"] = (time.perf_counter() - t0, "s")
        self.tracer.wrap(suite, "ks_statistic", "checks.drift.ks_statistic")
        self.tracer.wrap(Schema, "validate", "schema.validate")
        self.dup_keys, self.orphans = _closed_form_keys(self.n_clips)

    def op(self):
        with self.tracer.span("suite.run_suite"):
            res = suite.run_suite(self.clips, self.transcripts)
        with self.tracer.span("suite.violations"):
            n_viol = res.violations.count()
        with self.tracer.span("suite.counts"):
            counts = res.counts()
        return res, n_viol, counts

    def check(self, out) -> list[str]:
        res, n_viol, c = out
        try:
            bad = []
            if c["rows"] != self.n_clips:
                bad.append(f"rows {c['rows']} != {self.n_clips}")
            if c["passed"] + c["failed"] != c["rows"]:
                bad.append("passed + failed != rows")
            per_row = res.annotated.select(
                F.explode("__errors")).count()
            if per_row != c["violations"]:
                bad.append(f"report violations {c['violations']} != "
                           f"per-row total {per_row}")
            if n_viol < c["violations"]:
                bad.append("violations table smaller than the report")
            if c["dup_key_rows"] != self.dup_keys:
                bad.append(f"dup keys {c['dup_key_rows']} != {self.dup_keys}")
            if c["orphans"] != self.orphans:
                bad.append(f"orphans {c['orphans']} != {self.orphans}")
            if self.expected is None:
                self.expected = dict(c, n_viol=n_viol)
                self.cache_bytes = _cached_bytes(self.spark)
            elif not _same(dict(c, n_viol=n_viol), self.expected):
                bad.append("outputs differ from the first op on the same input")
            return bad
        finally:
            res.unpersist()

    def inputs(self) -> dict:
        return {"clips": self.n_clips, "parquet_bytes": self.parquet_bytes,
                "annotated_cache_bytes": getattr(self, "cache_bytes", None),
                "failed_rows": (self.expected or {}).get("failed")}

    def layers(self, tracer, ops) -> dict:
        out = dict(self.layer_setup)
        out.update(_span_stats(tracer, "suite.run_suite", ops, "suite.build",
                               jobs_key=".jobs"))
        out["suite.violations_ms"] = (_med(
            [s.ms for s in tracer.of("suite.violations", ops)]), "ms")
        out["suite.counts_ms"] = (_med(
            [s.ms for s in tracer.of("suite.counts", ops)]), "ms")
        out.update(_validate_layer(tracer, ops))
        out.update(_span_stats(tracer, "checks.drift.ks_statistic", ops,
                               "checks.drift.ks_statistic",
                               ms_key=".build_ms", jobs_key=".build_jobs"))
        return out


def _validate_layer(tracer, ops) -> dict:
    val = tracer.of("schema.validate", ops)
    return {
        "schema.validate.build_ms": (_med([s.ms for s in val]), "ms"),
        "schema.validate.py4j_calls": (
            _mean([s.py4j_calls for s in val]), "count"),
    }


def _same(a: dict, b: dict) -> bool:
    """Equal, up to float summation order for the float outputs."""
    return a.keys() == b.keys() and all(
        abs(a[k] - b[k]) <= 1e-9 * max(1.0, abs(b[k]))
        if isinstance(b[k], float) else a[k] == b[k] for k in b)


def _closed_form_keys(n: int) -> tuple[int, int]:
    """Duplicate keys and referential orphans implied by datasynth's
    injection rules: row i copies the id of row i-1 when i % 1000 == 7,
    has an empty id when i % 2000 == 11, and its transcripts row points at
    an orphan id when i % 200 == 3."""
    clip_ids, side_ids = collections.Counter(), collections.Counter()
    for i in range(n):
        base = i - 1 if (i % 1000 == 7 and i > 0) else i
        clip_ids["" if i % 2000 == 11 else f"c{base}"] += 1
        side_ids[f"o{i}" if i % 200 == 3 else f"c{base}"] += 1
    dups = sum(1 for v in clip_ids.values() if v > 1)
    orphans = (sum(v for k, v in clip_ids.items() if k not in side_ids)
               + sum(v for k, v in side_ids.items() if k not in clip_ids))
    return dups, orphans


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


# ---------------------------------------------------------------------------
class ClipsResume(ClipsSuite):
    """The write path on the same clips: one op is a from-empty
    ``CheckpointedValidation.run`` over a bucketed staged table with
    per-bucket sketches, then ``merged_stats`` and ``verify_lineage``."""

    name = "clips_resume"
    warmup = 2
    block = 3
    n_buckets = 8

    def setup(self) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("datasynth.write"):
            self._write_clips()
        t1 = time.perf_counter()
        self.staged = f"{self.work}/staged"
        with self.tracer.span("checkpoint.stage"):
            CheckpointedValidation(self.spark, f"{self.work}/ck",
                                   self.n_buckets).stage(self.clips, self.staged)
        t2 = time.perf_counter()
        self.layer_setup["datasynth.write_s"] = (t1 - t0, "s")
        self.layer_setup["checkpoint.stage_s"] = (t2 - t1, "s")
        self.tracer.wrap(sketches, "column_sketches",
                         "checks.sketches.column_sketches")
        self.tracer.wrap(Schema, "validate", "schema.validate")
        self.k = 0
        self.bytes_written: list[int] = []

    def reference_failed(self) -> int:
        """``clips_suite``'s failed count on the same input (not timed):
        the sum that ``SuiteResult.counts()`` reports, without the other
        table checks."""
        return suite.run_suite(self.clips, self.transcripts, persist=False
                               ).report.agg(F.sum("failed")).collect()[0][0]

    def op(self):
        self.k += 1
        ck, st = f"{self.work}/ck{self.k}", f"{self.work}/stats{self.k}"
        cv = CheckpointedValidation(self.spark, ck, self.n_buckets)
        with self.tracer.span("checkpoint.run"):
            cv.run(self.clips, _validate_clip_rows, staging_path=self.staged,
                   stats_cols=["sr_hz", "dur_ms", "codec"], stats_path=st)
        with self.tracer.span("checkpoint.merged_stats"):
            merged = cv.merged_stats(st).collect()
        with self.tracer.span("checkpoint.verify_lineage"):
            stale = cv.verify_lineage(self.clips).collect()
        return cv, ck, st, merged, stale

    def check(self, out) -> list[str]:
        cv, ck, st, merged, stale = out
        try:
            if self.expected is None:
                self.expected = {"failed": self.reference_failed()}
            rep = cv.report().agg(F.sum("n_rows"), F.sum("failed"),
                                  F.countDistinct("bucket")).collect()[0]
            bad = []
            if rep[0] != self.n_clips:
                bad.append(f"checkpoint rows {rep[0]} != {self.n_clips}")
            if rep[1] != self.expected["failed"]:
                bad.append(f"failed {rep[1]} != clips_suite's "
                           f"{self.expected['failed']}")
            if rep[2] != self.n_buckets:
                bad.append(f"{rep[2]} buckets completed of {self.n_buckets}")
            if stale:
                bad.append(f"{len(stale)} stale buckets")
            by_col = {r["column"]: r for r in merged}
            if sorted(by_col) != ["codec", "dur_ms", "sr_hz"]:
                bad.append(f"merged stats columns {sorted(by_col)}")
            elif any(r["n_rows"] != self.n_clips for r in merged):
                bad.append("merged stats row count != input rows")
            self.bytes_written.append(_dir_bytes(ck) + _dir_bytes(st))
            return bad
        finally:
            shutil.rmtree(ck, ignore_errors=True)
            shutil.rmtree(st, ignore_errors=True)

    def inputs(self) -> dict:
        return {"clips": self.n_clips, "parquet_bytes": self.parquet_bytes,
                "staged_bytes": _dir_bytes(self.staged),
                "buckets": self.n_buckets,
                "failed_rows": (self.expected or {}).get("failed")}

    def layers(self, tracer, ops) -> dict:
        out = dict(self.layer_setup)
        out.update(_span_stats(tracer, "checkpoint.run", ops,
                               "checkpoint.run", jobs_key=".jobs"))
        out["checkpoint.bytes_written"] = (
            _mean(self.bytes_written[-len(ops):] if ops else []), "bytes")
        for name in ("merged_stats", "verify_lineage"):
            out[f"checkpoint.{name}_ms"] = (_med(
                [s.ms for s in tracer.of(f"checkpoint.{name}", ops)]), "ms")
        out["checks.sketches.column_sketches_ms"] = _sketch_ms(tracer, ops)
        out.update(_validate_layer(tracer, ops))
        return out


def _sketch_ms(tracer, ops) -> tuple:
    """Median over ops of the summed ``column_sketches`` time in each.
    ``CheckpointedValidation.run`` calls it once per step and writes the
    lazy result itself, so in ``clips_resume`` this is plan construction
    only; the sketch jobs are inside ``checkpoint.run_ms``."""
    return (_med([sum(s.ms for s in tracer.of(
        "checks.sketches.column_sketches", [op])) for op in ops]), "ms")


def _validate_clip_rows(df):
    return suite.CLIPS_SCHEMA.validate(
        df, id_cols=["clip_id"], extra_checks=[("bytes", pcm_check_expr())]
    ).annotated


# ---------------------------------------------------------------------------
class DocCalls(Workload):
    """Single-document ``Schema.__call__``, one call per op."""

    name = "doc_calls"
    warmup = len(docs.WARMUP)
    block = len(docs.BLOCK)
    items_per_op = 1
    n_docs = 1000  # more than a run can call before MAX_RUN_S

    @staticmethod
    def kind(out) -> str:
        return out[1]

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.tracer = spark, tracer
        self.docs = docs.documents(seed, self.n_docs)
        self.k = 0
        self.done: list[tuple[str, dict, object, tuple]] = []
        self.cache_hits: list[bool] = []

    def setup(self) -> None:
        self.tracer.wrap(Schema, "validate", "schema.validate")

    def op(self):
        kind, doc, expected, _ = self.docs[self.k]
        self.k += 1
        schema = docs.SCHEMAS[kind]
        before = len(schema._compiled_cache)
        with self.tracer.span(f"schema.call.{kind}"):
            try:
                outcome = ("ok", schema(doc))
            except MultipleInvalid as e:  # an expected outcome, not a failure
                outcome = ("err", sorted(str(x) for x in e.errors))
        self.cache_hits.append(len(schema._compiled_cache) == before)
        return self.k - 1 - self.warmup, kind, doc, expected, outcome

    def check(self, out) -> list[str]:
        _, kind, doc, expected, outcome = out
        if expected is not None:
            return [] if outcome == expected else [
                f"{kind} document: {outcome} != {expected}"]
        self.done.append(out)  # compared in bulk by finish()
        return []

    def finish(self) -> dict[int, list[str]]:
        """Compare each flat and nested call with ``Schema.validate`` over
        the same documents as one DataFrame per kind. Absent keys become
        NULL cells, which the engine treats as absent. Returns failures by
        op index, negative for warm-up ops."""
        bad: dict[int, list[str]] = {}
        for kind in ("flat", "nested"):
            done = [o for o in self.done if o[1] == kind]
            if not done:
                continue
            rows = [o[2] for o in done]
            cols = sorted({k for r in rows for k in r})
            df = self.spark.createDataFrame(
                [tuple(r.get(c) for c in cols) for r in rows],
                _ddl(kind, cols))
            got = docs.SCHEMAS[kind].validate(df).annotated.select(
                "__errors").collect()
            for (i, _, _, _, outcome), row in zip(done, got):
                errs = sorted(str(invalid_from_row(e)) for e in row[0])
                want = ("err", errs) if errs else "ok"
                have = outcome if outcome[0] == "err" else "ok"
                if want != have:
                    bad.setdefault(i, []).append(
                        f"{kind} call {have} != DataFrame {want}")
        return bad

    def inputs(self) -> dict:
        seen = self.docs[:self.k]
        return {"documents": len(seen),
                "distinct_shape_share": (len({repr(docs.shape(d))
                                              for _, d, _, _ in seen})
                                         / max(len(seen), 1)),
                "invalid_share": sum(1 for *_, bad in seen if bad)
                / max(len(seen), 1)}

    def layers(self, tracer, ops) -> dict:
        out = _validate_layer(tracer, ops)
        calls = []
        for kind in ("flat", "nested", "driver"):
            spans = tracer.of(f"schema.call.{kind}", ops)
            calls += spans
            out[f"schema.call_ms.{kind}"] = (_med([s.ms for s in spans]), "ms")
        out["schema.call.jobs"] = (_mean([len(s.jobs) for s in calls]), "count")
        out["schema.call.py4j_calls"] = (
            _mean([s.py4j_calls for s in calls]), "count")
        measured = self.cache_hits[-len(ops):] if ops else []
        out["schema.compiled_cache.hit_frac"] = (_mean(measured), "frac")
        return out


def _ddl(kind: str, cols: list[str]) -> str:
    if kind == "flat":
        types = {"sr_hz": "bigint", "dur_ms": "bigint"}
        return ", ".join(f"`{c}` {types.get(c, 'string')}" for c in cols)
    types = {"utt_id": "string", "lang": "string",
             "segments": "array<struct<start_ms:string,end_ms:bigint,"
                         "speaker:string>>"}
    return ", ".join(f"`{c}` {types[c]}" for c in cols)


# ---------------------------------------------------------------------------
TABLE_QUERIES = [
    "flagship_violations", "membership_checks", "any_event_type",
    "maptype_props", "unique_check", "referential_check", "stats_lineitem",
    "drift_priority", "ks_quantity", "checkpoint_resume", "dedup_clusters",
    "ivf_topk",
]
SKETCH_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


class TableChecks(Workload):
    """One op is a pass over a fixed subset of the driver-contract queries
    plus ``checks.column_sketches`` on lineitem. Reads the fixed TPC-H-like
    tables (generated with seed 42, read-only) from ``bench.SF_DIR``, which
    ``SPARK_GRAFT_SF_DIR`` overrides; the seed argument does not change
    them. The tables are not in the repository, so this workload is run by
    hand and is not in ``BENCHMARK.json``."""

    name = "table_checks"
    items_per_op = len(TABLE_QUERIES)

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.tracer = spark, tracer
        from bench import SF_DIR
        self.sf_dir = SF_DIR
        if not os.path.isfile(f"{self.sf_dir}/lineitem.parquet"):
            raise SystemExit(f"table_checks: no lineitem.parquet in "
                             f"{self.sf_dir}; set SPARK_GRAFT_SF_DIR to the "
                             "driver-contract tables")
        self.oracle: dict | None = None

    def setup(self) -> None:
        import __spark_entry__ as entry
        self.queries = {q: entry.queries()[q] for q in TABLE_QUERIES}
        self.oracle_sql = {q: entry.oracle_sql()[q] for q in TABLE_QUERIES}

    def op(self):
        out = {}
        for q, fn in self.queries.items():
            with self.tracer.span(f"table_checks.{q}.build"):
                df = fn(self.spark, self.sf_dir)
            with self.tracer.span(f"table_checks.{q}.force"):
                out[q] = df.toPandas()
        li = self.spark.read.parquet(f"{self.sf_dir}/lineitem.parquet")
        with self.tracer.span("checks.sketches.column_sketches"):
            out["__sketches"] = sketches.column_sketches(
                li, cols=SKETCH_COLS).collect()
        return out

    def _oracles(self) -> dict:
        import duckdb
        from tools.check_oracles import TABLES
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                            f"'{self.sf_dir}/{t}.parquet')")
            res = {q: con.execute(sql).df() for q, sql in self.oracle_sql.items()}
            agg = ", ".join(
                f"count(*) - count({c}), min({c}), max({c})" for c in SKETCH_COLS)
            row = con.execute(f"SELECT count(*), {agg} FROM lineitem").fetchone()
        finally:
            con.close()
        res["__sketches"] = {
            c: (row[0], row[1 + 3 * i], row[2 + 3 * i], row[3 + 3 * i])
            for i, c in enumerate(SKETCH_COLS)}
        return res

    def check(self, out) -> list[str]:
        from tools.check_oracles import strict_compare
        if self.oracle is None:
            self.oracle = self._oracles()
        bad = []
        for q in TABLE_QUERIES:
            why = strict_compare(out[q], self.oracle[q])
            if why:
                bad.append(f"{q}: {why}")
        for r in out["__sketches"]:
            want = self.oracle["__sketches"][r["column"]]
            have = (r["n_rows"], r["null_count"], r["min_num"], r["max_num"])
            if have != want:
                bad.append(f"column_sketches {r['column']}: {have} != {want}")
        return bad

    def inputs(self) -> dict:
        return {"tables_dir_bytes": _dir_bytes(self.sf_dir),
                "queries": TABLE_QUERIES, "data_seed": 42}

    def layers(self, tracer, ops) -> dict:
        out = {}
        for q in TABLE_QUERIES:
            b = tracer.of(f"table_checks.{q}.build", ops)
            f = tracer.of(f"table_checks.{q}.force", ops)
            out[f"table_checks.{q}.build_ms"] = (_med([s.ms for s in b]), "ms")
            out[f"table_checks.{q}.force_ms"] = (_med([s.ms for s in f]), "ms")
            out[f"table_checks.{q}.build_jobs"] = (
                _mean([len(s.jobs) for s in b]), "count")
        out["checks.sketches.column_sketches_ms"] = _sketch_ms(tracer, ops)
        return out


WORKLOADS = {w.name: w for w in (ClipsSuite, ClipsResume, DocCalls, TableChecks)}

# Per-layer metrics every traced run reports, 0 where the workload does not
# run the layer: those of the gated workloads, clips_suite, clips_resume and
# doc_calls.
SHARED_LAYERS = {
    "session.start_s": "s",
    "datasynth.write_s": "s",
    "checkpoint.stage_s": "s",
    "schema.validate.build_ms": "ms",
    "schema.validate.py4j_calls": "count",
    "schema.call_ms.flat": "ms",
    "schema.call_ms.nested": "ms",
    "schema.call_ms.driver": "ms",
    "schema.call.jobs": "count",
    "schema.call.py4j_calls": "count",
    "schema.compiled_cache.hit_frac": "frac",
    "suite.build_ms": "ms",
    "suite.build.jobs": "count",
    "suite.violations_ms": "ms",
    "suite.counts_ms": "ms",
    "checks.drift.ks_statistic.build_ms": "ms",
    "checks.drift.ks_statistic.build_jobs": "count",
    "checks.sketches.column_sketches_ms": "ms",
    "checkpoint.run_ms": "ms",
    "checkpoint.run.jobs": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.merged_stats_ms": "ms",
    "checkpoint.verify_lineage_ms": "ms",
}
