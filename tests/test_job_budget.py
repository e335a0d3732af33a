"""Builder-time Spark jobs on the curation path: the parquet schema memo
behind ``load_table`` and the one-collect Dawid-Skene builder.

Jobs are counted with ``statusTracker`` under a job group set in the
calling thread, so only the jobs the call itself launched are seen.
"""

from __future__ import annotations

import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from tests.conftest import SF_SMOKE
from weather_stream_processor_spark.sources import load_table, parquet_schema
from weather_stream_processor_spark.sources import tables

_GROUP = "spark.jobGroup.id"
_ids = itertools.count()


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"job-budget-{next(_ids)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty(_GROUP, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write(path, **cols):
    pq.write_table(pa.table(cols), path)


@pytest.fixture()
def conf_restore(spark):
    saved = {c: spark.conf.get(c) for c in tables._PINNED_CONFS}
    yield spark.conf
    for c, v in saved.items():
        spark.conf.set(c, v)


def test_memo_hit_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2, 3])
    first, n_first = _jobs(spark, lambda: parquet_schema(spark, path))
    again, n_again = _jobs(spark, lambda: parquet_schema(spark, path))
    assert n_first >= 1  # inference is a job
    assert n_again == 0
    assert again == first == spark.read.parquet(path).schema


def test_load_table_hit_launches_no_job_and_keeps_the_schema(spark):
    load_table(spark, SF_SMOKE, "events")
    df, n = _jobs(spark, lambda: load_table(spark, SF_SMOKE, "events"))
    assert n == 0
    inferred = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet")).schema
    assert [f.name for f in df.schema] == [f.name for f in inferred]
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)


def test_touch_and_rewrite_reinfer(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, a=[1, 2, 3])
    parquet_schema(spark, path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    _, n = _jobs(spark, lambda: parquet_schema(spark, path))
    assert n >= 1
    _write(path, a=[1, 2, 3], b=["x", "y", "z"])
    schema, n = _jobs(spark, lambda: parquet_schema(spark, path))
    assert n >= 1
    assert schema.fieldNames() == ["a", "b"]


def test_new_part_file_in_a_directory_table_reinfers(spark, tmp_path):
    table = tmp_path / "t.parquet"
    table.mkdir()
    _write(str(table / "part-0.parquet"), a=[1, 2])
    path = str(table)
    parquet_schema(spark, path)
    _, n = _jobs(spark, lambda: parquet_schema(spark, path))
    assert n == 0
    _write(str(table / "part-1.parquet"), a=[3], b=[1.5])
    _, n = _jobs(spark, lambda: parquet_schema(spark, path))
    assert n >= 1
    assert spark.read.schema(parquet_schema(spark, path)).parquet(path).count() == 3


def test_flipping_a_pinned_conf_reinfers(spark, tmp_path, conf_restore):
    path = str(tmp_path / "t.parquet")
    ts = pa.array([1_700_000_000_000_000], pa.timestamp("us"))  # not UTC-adjusted
    _write(path, a=[1], ts=ts)
    conf_restore.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert isinstance(parquet_schema(spark, path)["ts"].dataType, T.TimestampType)
    conf_restore.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    _, n = _jobs(spark, lambda: parquet_schema(spark, path))
    assert n >= 1
    conf_restore.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    assert isinstance(parquet_schema(spark, path)["ts"].dataType, T.TimestampNTZType)


def test_memo_keeps_one_entry_per_path(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    before = len(tables._SCHEMA_MEMO)
    for i in range(3):
        _write(path, **{f"c{i}": [i]})
        assert parquet_schema(spark, path).fieldNames() == [f"c{i}"]
    assert len(tables._SCHEMA_MEMO) == before + 1


def test_dawid_skene_builds_with_one_collect(spark):
    from weather_stream_processor_spark.registry import all_queries

    build = all_queries()["dawid_skene_correction"].builder
    load_table(spark, SF_SMOKE, "documents")  # schema memo warm
    df, n = _jobs(spark, lambda: build(spark, SF_SMOKE))
    # the confusion-count collect is the only action; under AQE (on in
    # every session the factory builds) its shuffle map stage runs as its
    # own job before the result job
    assert n == 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "Window", "BroadcastHashJoin", "InMemoryTableScan"):
        assert node not in plan, (node, plan)
