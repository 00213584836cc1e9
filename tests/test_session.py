"""Catalog bring-up: table schemas from the parquet footer, no Spark jobs,
one function registration per session.

The schema tests compare `session.load_tables` with what Spark's own
schema inference reads for the same files (plus the TIMESTAMP(NANOS) ->
TIMESTAMP_NTZ conversion), over the testdata tables at ``sf_dir``, a
Spark-written multi-file copy of them and pyarrow-written files.
"""

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType

from hive_spark.session import TESTDATA_TABLES, get_session, load_tables

_NS = [1_700_000_000_123_456_789, 1_000_000_999]


def _inferred_schema(spark, path):
    """The schema of a plain `spark.read.parquet` (Spark infers it with a
    job), with nanosecond timestamps converted as load_tables does."""
    df = spark.read.parquet(path)
    part = path
    if os.path.isdir(path):
        part = os.path.join(
            path, sorted(f for f in os.listdir(path) if f.endswith(".parquet"))[0]
        )
    for f in pq.read_schema(part):
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            df = df.withColumn(
                f.name,
                F.timestamp_micros(F.expr(f"`{f.name}` div 1000")).cast(
                    "timestamp_ntz"
                ),
            )
    return df.schema


@pytest.fixture(scope="module")
def multi_file_dir(spark, sf_dir, tmp_path_factory):
    """Every testdata table rewritten by Spark as a 3-file directory (the
    layout of bench.py's scaled tiers)."""
    out = tmp_path_factory.mktemp("multi_file")
    for name, df in load_tables(spark, sf_dir).items():
        df.repartition(3).write.parquet(str(out / f"{name}.parquet"))
    return str(out)


@pytest.fixture(scope="module")
def ns_dir(tmp_path_factory):
    """A pyarrow-written table with a TIMESTAMP(NANOS) column."""
    out = tmp_path_factory.mktemp("ns")
    pq.write_table(
        pa.table(
            {
                "id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(_NS, pa.timestamp("ns")),
                "tags": pa.array([["a"], []], pa.list_(pa.string())),
            }
        ),
        str(out / "events.parquet"),
    )
    return str(out)


@pytest.mark.parametrize("table", TESTDATA_TABLES)
def test_footer_schema_matches_inference(spark, sf_dir, multi_file_dir, table):
    for root in (sf_dir, multi_file_dir):
        path = os.path.join(root, f"{table}.parquet")
        got = load_tables(spark, root, (table,))[table].schema
        assert got == _inferred_schema(spark, path), root


def test_ns_timestamp_reads_as_ntz_micros(spark, ns_dir):
    df = load_tables(spark, ns_dir, ("events",))["events"]
    assert df.schema == _inferred_schema(
        spark, os.path.join(ns_dir, "events.parquet")
    )
    assert df.schema["ts"].dataType == TimestampNTZType()
    epoch = dt.datetime(1970, 1, 1)
    assert [r.ts for r in df.orderBy("id").collect()] == [
        epoch + dt.timedelta(microseconds=ns // 1000) for ns in _NS
    ]


@pytest.mark.parametrize(
    "column,write",
    [
        ("u", lambda p: pq.write_table(pa.table({"u": pa.array([1], pa.uint64())}), p)),
        (
            "t96",
            lambda p: pq.write_table(
                pa.table({"t96": pa.array([1], pa.timestamp("ns"))}),
                p,
                use_deprecated_int96_timestamps=True,
            ),
        ),
    ],
    ids=["uint64", "int96"],
)
def test_unreadable_footer_type_names_table_and_column(spark, tmp_path, column, write):
    write(str(tmp_path / "odd.parquet"))
    with pytest.raises(TypeError, match=f"table odd: column {column}"):
        load_tables(spark, str(tmp_path), ("odd",))


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_views_runs_no_spark_jobs(spark, sf_dir):
    from hive_spark.operators import views

    fresh = spark.newSession()
    assert _jobs(fresh, "test_session_views", lambda: views(fresh, sf_dir)) == []
    assert fresh.table("lineitem").count() > 0


def test_functions_registered_once_per_session(spark, sf_dir, monkeypatch):
    """get_session registers the gap functions and views (ensure_engine)
    finds them registered; a second session registers its own."""
    from hive_spark import functions
    from hive_spark.operators import views

    real = functions.register_all
    calls = []

    def counted(s):
        calls.append(s)
        real(s)

    monkeypatch.setattr(functions, "register_all", counted)
    for _ in range(2):
        # make get_session's getOrCreate hand out a new session
        fresh = spark.newSession()
        monkeypatch.setattr(SparkSession, "_instantiatedSession", fresh)
        assert get_session(app_name="hive_spark_tests") is fresh
        views(fresh, sf_dir)
        assert fresh.sql("SELECT mask_hash('a')").count() == 1
    assert len(calls) == 2 and calls[0] is not calls[1]
