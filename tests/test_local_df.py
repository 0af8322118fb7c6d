"""Driver-built tables are Arrow local relations: their plan is a
LocalTableScan, and building, collecting or broadcasting them runs no
Spark job, so no Python worker starts for rows the driver already holds."""

from __future__ import annotations

from glre_spark.lineage import read_manifest
from glre_spark.linking import alias_dict_df
from glre_spark.session import local_df


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def jobs_run(spark, make_df) -> tuple[list, set]:
    """Build and collect ``make_df()``; return its rows and the ids of the
    jobs that ran meanwhile (no test sets a job group, so every job lands
    in the default one)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    df = make_df()
    assert "LocalTableScan" in plan_of(df), plan_of(df)
    rows = df.collect()
    return rows, set(tracker.getJobIdsForGroup()) - before


def test_local_df_rows_run_no_job(spark):
    ddl = "name string, n int, big bigint"
    rows, jobs = jobs_run(spark, lambda: local_df(spark, [("a", 1, 2), ("b", 3, 4)], ddl))
    assert jobs == set()
    assert [tuple(r) for r in rows] == [("a", 1, 2), ("b", 3, 4)]
    df = local_df(spark, [{"n": 5, "name": "c", "big": 6}], ddl)
    assert df.schema.simpleString() == "struct<name:string,n:int,big:bigint>"
    assert [tuple(r) for r in df.collect()] == [("c", 5, 6)]


def test_alias_dict_runs_no_job(spark):
    rows, jobs = jobs_run(spark, lambda: alias_dict_df(spark))
    assert jobs == set()
    assert rows and all(r.type is not None for r in rows)


def test_missing_manifest_runs_no_job(spark, tmp_path):
    rows, jobs = jobs_run(spark, lambda: read_manifest(spark, str(tmp_path / "never")))
    assert jobs == set()
    assert rows == []
