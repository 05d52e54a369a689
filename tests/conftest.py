import itertools

import pytest

from voluptuous_spark.session import get_spark

_job_group = itertools.count()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="voluptuous_spark_tests",
        shuffle_partitions=4,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.sql.files.openCostInBytes": "0",
        },
    )
    yield s


@pytest.fixture(scope="session")
def jobs_of(spark):
    """fn -> (fn's result, number of Spark jobs launched while it ran)."""
    sc = spark.sparkContext

    def run(fn):
        group = f"counted-{next(_job_group)}"
        sc.setJobGroup(group, "counted call")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def validate_one(spark):
    """Validate single values through a one-column DataFrame; returns
    (valid_values, violations) like calling reference schema(data) per
    value. The workhorse for translating reference unit tests."""

    def run(validator, values, ddl_type, required=False):
        from voluptuous_spark import Schema, Required
        from voluptuous_spark.dsl import ALLOW_EXTRA

        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(values)], f"i long, v {ddl_type}"
        )
        key = Required("v") if required else "v"
        res = Schema({key: validator}, extra=ALLOW_EXTRA).validate(
            df, id_cols=["i"]
        )
        ann = {
            r["i"]: r
            for r in res.annotated.select("i", "v", "__errors").collect()
        }
        out = []
        for i in range(len(values)):
            r = ann[i]
            errs = r["__errors"]
            if errs:
                out.append(
                    ("err", [(e["message"], e["error_type"], list(e["path"]))
                             for e in errs])
                )
            else:
                out.append(("ok", r["v"]))
        return out

    return run
