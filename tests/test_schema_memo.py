"""The parquet schema memo (``sources.io.parquet_schema``).

Schema inference runs one Spark job per ``spark.read.parquet``; the
memo pays it once per path, file identity and schema-conf set. These
tests pin that a repeated read runs no job, that a rewritten table or
a changed conf re-infers, that a missing path still fails the way
Spark fails, that the memo outlives its session, and that no
schema-only read bypasses it.
"""

from __future__ import annotations

import json
import os
import pathlib
import re
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_pyspark_spark.sources import io

PKG = pathlib.Path(__file__).resolve().parent.parent / "etl_pyspark_spark"
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def _entries(path) -> int:
    return sum(k == os.path.abspath(path) for k in io._SCHEMA_MEMO)


def _ts_type(schema) -> str:
    return schema["ts"].dataType.simpleString()


def test_repeated_read_runs_no_job(spark, sf_dir, count_jobs):
    path = f"{sf_dir}/orders.parquet"
    io.read_table(spark, sf_dir, "orders")
    df, jobs = count_jobs(lambda: io.read_table(spark, sf_dir, "orders"))
    assert jobs == 0
    assert df.schema == spark.read.parquet(path).schema
    assert _entries(path) == 1


def test_rewritten_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert io.read_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = io.read_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert df.schema == spark.read.parquet(str(path)).schema
    assert _entries(path) == 1


def test_replaced_part_file_is_reinferred(spark, tmp_path):
    table = tmp_path / "t.parquet"
    table.mkdir()
    part = table / "part-00000.parquet"
    pq.write_table(pa.table({"a": [1]}), part)
    assert io.read_parquet(spark, str(table)).columns == ["a"]
    pq.write_table(pa.table({"a": [1], "b": [2.5]}), part)
    assert io.read_parquet(spark, str(table)).columns == ["a", "b"]
    assert _entries(table) == 1


def test_runtime_conf_is_part_of_the_key(spark, sf_dir):
    path = f"{sf_dir}/events.parquet"
    old = spark.conf.get(NTZ, None)
    try:
        spark.conf.unset(NTZ)
        assert _ts_type(io.parquet_schema(spark, path)) == "timestamp_ntz"
        spark.conf.set(NTZ, "false")
        got = io.parquet_schema(spark, path)
        assert _ts_type(got) == "timestamp"
        assert got == spark.read.parquet(path).schema
        spark.conf.unset(NTZ)
        assert _ts_type(io.parquet_schema(spark, path)) == "timestamp_ntz"
        assert _entries(path) == 1
    finally:
        if old is None:
            spark.conf.unset(NTZ)
        else:
            spark.conf.set(NTZ, old)


def test_missing_path_raises_spark_path_not_found(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException) as err:
        io.read_table(spark, str(tmp_path), "missing")
    assert err.value.getCondition() == "PATH_NOT_FOUND"
    assert _entries(tmp_path / "missing.parquet") == 0


def test_memo_outlives_the_session(sf_dir):
    """A new session in the same process plans from the memo: the
    schema comes back with no Spark job. Its own JVM, so stopping a
    session cannot disturb the shared test session."""
    code = r"""
import json, sys
from pyspark.sql import SparkSession
from etl_pyspark_spark.sources.io import parquet_schema

def session():
    s = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    return s

path = sys.argv[1]
spark = session()
first = parquet_schema(spark, path)
spark.stop()
spark = session()
sc = spark.sparkContext
sc.setJobGroup("memo", "memo")
second = parquet_schema(spark, path)
sc._jsc.clearJobGroup()
jobs = len(sc.statusTracker().getJobIdsForGroup("memo"))
print(json.dumps({"jobs": jobs, "same": first == second,
                  "fresh": second == spark.read.parquet(path).schema}))
"""
    out = subprocess.run(
        [sys.executable, "-c", code, f"{sf_dir}/lineitem.parquet"],
        capture_output=True, text=True, timeout=600,
        cwd=PKG.parent,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res == {"jobs": 0, "same": True, "fresh": True}, res


def test_no_schema_only_read_outside_the_memo():
    """``spark.read.parquet(p).schema`` runs the inference job the memo
    exists to skip; only ``sources/io.py`` (the memo itself) may call
    it. Elsewhere, use ``sources.io.parquet_schema``."""
    pattern = re.compile(r"read\.parquet\([^)]*\)\.schema")
    hits = [
        f"{path.relative_to(PKG)}:{src.count(chr(10), 0, m.start()) + 1}"
        for path in sorted(PKG.rglob("*.py"))
        if path != PKG / "sources" / "io.py"
        for src in [path.read_text()]
        for m in pattern.finditer(src)
    ]
    assert not hits, (
        f"schema-only parquet read(s) at {hits}: each runs a Spark job; "
        "use sources.io.parquet_schema"
    )
