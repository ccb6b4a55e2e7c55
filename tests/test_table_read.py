"""The registry's table read (`queries._t`): a driver-side footer read gives
the schema and the split count with no Spark job, and only the free-text
table (or a ``spread=True`` call) gets the round-robin spread."""

import datetime as dt
import decimal
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from dataquality_spark.queries import _t

TESTDATA = "/root/testdata"
TABLES = ("customer", "documents", "embeddings", "events", "lineitem",
          "nation", "orders", "part", "region", "supplier")


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_schema_equals_spark_inference_on_driver_tables(spark, sf):
    sf_dir = os.path.join(TESTDATA, sf)
    for name in TABLES:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert _t(spark, sf_dir, name).schema == inferred, (sf, name)


def _spark_written_frame(spark):
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("day", T.DateType()),
        T.StructField("price", T.DecimalType(12, 2)),
        T.StructField("blob", T.BinaryType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("props", T.MapType(T.StringType(), T.IntegerType())),
        T.StructField("loc", T.StructType([
            T.StructField("lat", T.DoubleType()),
            T.StructField("ts2", T.TimestampType())])),
    ])
    t0 = dt.datetime(2024, 1, 1, 12, 30)
    rows = [(i, t0 + dt.timedelta(hours=i), dt.date(2024, 1, 1 + i % 28),
             decimal.Decimal(f"{i}.25"), bytes([i % 256]), [f"t{i}"],
             {"k": i}, (i / 3, t0)) for i in range(40)]
    return spark.createDataFrame(rows, schema)


@pytest.mark.parametrize("files", [1, 4])
def test_schema_and_rows_equal_spark_on_spark_written_dirs(spark, tmp_path,
                                                           files):
    # Spark writes timestamps as INT96 with its row metadata in the footer
    path = str(tmp_path / "events.parquet")
    _spark_written_frame(spark).repartition(files).write.parquet(path)
    got = _t(spark, str(tmp_path), "events")
    want = spark.read.parquet(path)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())


def test_read_launches_no_job(spark):
    sc = spark.sparkContext
    sc.setJobGroup("table_read", "table_read")
    try:
        for name in TABLES:
            _t(spark, os.path.join(TESTDATA, "sf0.01"), name)
        assert sc.statusTracker().getJobIdsForGroup("table_read") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_pyarrow_int96_without_spark_metadata_raises(spark, tmp_path):
    table = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)],
                       pa.timestamp("us"))})
    pq.write_table(table, str(tmp_path / "events.parquet"),
                   use_deprecated_int96_timestamps=True)
    with pytest.raises(ValueError, match=r"table events: column ts "):
        _t(spark, str(tmp_path), "events")


def test_documents_spread_to_cores(spark):
    docs = _t(spark, os.path.join(TESTDATA, "sf0.01"), "documents")
    assert spark.sparkContext.defaultParallelism == 4
    assert docs.rdd.getNumPartitions() == 4
    assert "Repartition 4, true" in _plan(docs)


def test_other_tables_spread_only_on_request(spark):
    sf_dir = os.path.join(TESTDATA, "sf0.01")
    ev = _t(spark, sf_dir, "events")
    assert "Repartition" not in _plan(ev)
    assert ev.rdd.getNumPartitions() == 1
    spread = _t(spark, sf_dir, "events", spread=True)
    assert "Repartition 4, true" in _plan(spread)
    assert spread.rdd.getNumPartitions() == 4


def test_row_group_per_core_never_spreads(spark, tmp_path):
    # four files of one row group each already scan as four tasks, so even
    # the text table is read as written
    src = pq.read_table(os.path.join(TESTDATA, "sf0.01", "documents.parquet"))
    os.mkdir(tmp_path / "documents.parquet")
    step = -(-src.num_rows // 4)
    for k in range(4):
        pq.write_table(src.slice(k * step, step),
                       str(tmp_path / "documents.parquet" / f"{k}.parquet"))
    docs = _t(spark, str(tmp_path), "documents")
    assert "Repartition" not in _plan(docs)
    assert docs.rdd.getNumPartitions() == 4
    assert docs.count() == src.num_rows
