"""Query-side table opens (``icdc_dataloader_spark.tables``): a file's
schema is inferred by Spark once, later opens of the unchanged file run
no Spark job, and a rewritten file is inferred again."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from icdc_dataloader_spark import hash_queries, queries
from icdc_dataloader_spark.tables import table


def _open_jobs(spark, sf_dir, name, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, "table open")
    try:
        df = table(spark, sf_dir, name)
    finally:
        sc.setJobGroup("", "")
    return df, sc.statusTracker().getJobIdsForGroup(group)


def test_second_open_runs_no_job_and_rewrite_reinfers(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)

    first, jobs = _open_jobs(spark, str(tmp_path), "t", "table-open-1")
    assert jobs, "the first open infers the schema with a Spark job"
    second, jobs = _open_jobs(spark, str(tmp_path), "t", "table-open-2")
    assert jobs == [], sorted(jobs)
    assert second.schema == spark.read.parquet(path).schema == first.schema
    assert sorted(second.collect()) == [(1, "x"), (2, "y")]

    # another column set under the same name: the stamp changes
    os.remove(path)
    pq.write_table(pa.table({"c": [3.5], "a": [7], "d": [True]}), path)
    third, _ = _open_jobs(spark, str(tmp_path), "t", "table-open-3")
    assert third.schema == spark.read.parquet(path).schema
    assert third.columns == ["c", "a", "d"]
    assert third.collect() == [(3.5, 7, True)]


def test_query_modules_share_one_table_open():
    assert queries._t is hash_queries._t is table
