"""Source readers: native text formats round-trip; the parquet schema memo."""

from __future__ import annotations

import glob
import os

import pytest

from mapreduce_hadoop_spark.operators.segments import clean_positions
from mapreduce_hadoop_spark.sources.segments_csv import read_segments
from mapreduce_hadoop_spark.sources.trips_text import read_trips, write_trip_lines, write_tsv

SEGMENT_LINES = [
    # The reference docstring examples (AirportTripsRevenue.java:128-134).
    "450,'2008-05-25 09:16:58',37.61611,-122.38888,'M','2008-05-25 09:17:00',37.61506,-122.39206,'E'",
    "450,'2008-05-25 09:16:01',37.61799,-122.38608,'M','2008-05-25 09:16:58',37.61611,-122.38888,'M'",
    # NULL position (entire first position missing).
    "451,NULL,NULL,NULL,NULL,'2008-05-25 10:00:00',37.62,-122.38,'M'",
    # Malformed: wrong arity -> dropped.
    "452,'2008-05-25 11:00:00',37.61",
    # Garbage -> dropped.
    "not,a,number,x,y,z,q,w,e",
]


def test_read_segments_parse_and_drop(spark, tmp_path):
    p = tmp_path / "fixture.segments"
    p.write_text("\n".join(SEGMENT_LINES) + "\n")
    df = read_segments(spark, str(p))
    rows = df.orderBy("taxi", "t1").collect()
    # 452 (arity) and garbage dropped; 450 x2 and 451 kept.
    assert [r["taxi"] for r in rows] == [450, 450, 451]
    # '2008-05-25 09:16:01' UTC == epoch 1211706961 (reference parses as UTC).
    assert rows[0]["t1"] == 1211706961.0
    assert rows[2]["t1"] is None  # NULL timestamp
    assert rows[2]["t2"] == 1211709600.0


def test_segments_feed_cleanse_pipeline(spark, tmp_path):
    p = tmp_path / "fixture.segments"
    p.write_text("\n".join(SEGMENT_LINES) + "\n")
    pos = clean_positions(read_segments(spark, str(p)))
    got = {(r["taxi"], r["t"], r["status"]) for r in pos.collect()}
    # Segment 1: M,E -> both positions kept. Segment 2: M,M -> one position
    # (09:16:58 M) duplicates segment 1's first position -> dedup to 3 total.
    # NULL-position row: status1 normalized E + status2 M kept (t1 null dropped).
    assert (450, 1211706961.0, "M") in got
    assert (451, 1211709600.0, "M") in got
    assert len({k for k in got if k[0] == 450}) == 3


def test_trips_roundtrip(spark, tmp_path):
    line = "450 1211706872.0 37.61799 -122.38607 1211707018.0 37.61611 -122.38888 true 0.327 4.06 2008-05-25"
    src = tmp_path / "in.trips"
    src.write_text(line + "\n")
    df = read_trips(spark, str(src))
    r = df.first()
    assert (r["taxi"], r["start_t"], r["is_airport"], r["dist_km"], r["trip_date"]) == (
        450,
        1211706872.0,
        True,
        0.327,
        "2008-05-25",
    )
    out = tmp_path / "out.trips"
    write_trip_lines(df, str(out))
    written = []
    for f in glob.glob(str(out / "part-*")):
        written += open(f).read().splitlines()
    assert written == [line]


def test_short_trip_layout(spark, tmp_path):
    # Exercise-1 input: only 7 fields (SparkTripLength.java reads 2,3,5,6).
    src = tmp_path / "short.trips"
    src.write_text("9 1267451562.0 37.61373 -122.39722 1267453549.0 37.34666 -121.99176\n")
    r = read_trips(spark, str(src)).first()
    assert r["stop_lon"] == -121.99176
    assert r["is_airport"] is None


def test_write_tsv(spark, tmp_path):
    df = spark.createDataFrame([("2008-05-25", 12.5)], ["d", "v"])
    out = tmp_path / "tsv"
    write_tsv(df, str(out))
    content = "".join(open(f).read() for f in glob.glob(str(out / "part-*")))
    assert content.strip() == "2008-05-25\t12.5"


def test_read_trips_gzip_transparent(spark, tmp_path):
    # The reference consumes gzipped trip files (`command:17` runs on
    # 2010_03.trips via TextInputFormat, which decompresses .gz); Spark's
    # text source does the same. Single-split per .gz file, as in Hadoop.
    import gzip

    line = "450 1211706872.0 37.61799 -122.38607 1211707018.0 37.61611 -122.38888 true 0.327 4.06 2008-05-25"
    p = tmp_path / "fixture.trips.gz"
    with gzip.open(p, "wt") as f:
        f.write(line + "\n")
    rows = read_trips(spark, str(p)).collect()
    assert len(rows) == 1
    assert rows[0]["taxi"] == 450
    assert rows[0]["revenue"] == 4.06
    assert rows[0]["is_airport"] is True


# --- parquet schema memo (sources.tables.parquet_schema / load_table) ---


def _sf_dirs():
    from conftest import SF_DIR

    root = os.path.dirname(SF_DIR)
    return [os.path.join(root, sf) for sf in ("sf0.001", "sf0.01", "sf0.1")]


@pytest.mark.parametrize("sf_path", _sf_dirs(), ids=os.path.basename)
def test_parquet_schema_matches_spark_inference(spark, sf_path):
    from mapreduce_hadoop_spark.sources.tables import TABLE_NAMES, ensure_confs, parquet_schema

    if not os.path.isdir(sf_path):
        pytest.skip(f"{sf_path} not present")
    ensure_confs(spark)
    for name in TABLE_NAMES:
        p = f"{sf_path}/{name}.parquet"
        assert parquet_schema(spark, p).json() == spark.read.parquet(p).schema.json(), name


def _write_events_fixture(path, extra_column=False):
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {
        "event_id": pa.array([1, 2], pa.int64()),
        # INT64 TIMESTAMP(NANOS): bigint under nanosAsLong.
        "ts": pa.array([1_211_706_961_123_456_789, 1_211_706_962_000_000_999], pa.timestamp("ns")),
        # Naive timestamp[us]: session-tz TIMESTAMP, not TIMESTAMP_NTZ.
        "seen": pa.array([1_211_706_961_000_000, None], pa.timestamp("us")),
    }
    if extra_column:
        cols["note"] = pa.array(["a", "b"])
    pq.write_table(pa.table(cols), path, version="2.6")


def test_parquet_schema_nanos_and_naive_fixture(spark, tmp_path):
    from pyspark.sql.types import LongType, TimestampType

    from mapreduce_hadoop_spark.sources.tables import ensure_confs, load_table, parquet_schema

    p = str(tmp_path / "events.parquet")
    _write_events_fixture(p)
    ensure_confs(spark)
    schema = parquet_schema(spark, p)
    assert schema.json() == spark.read.parquet(p).schema.json()
    assert isinstance(schema["ts"].dataType, LongType)
    assert isinstance(schema["seen"].dataType, TimestampType)
    df = load_table(spark, str(tmp_path), "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    # Truncated to microseconds, as DuckDB reads it.
    got = [r["us"] for r in df.selectExpr("unix_micros(ts) AS us").orderBy("us").collect()]
    assert got == [1_211_706_961_123_456, 1_211_706_962_000_000]


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_load_table_repeat_starts_no_job(spark, tmp_path):
    from mapreduce_hadoop_spark.sources.tables import load_table

    _write_events_fixture(str(tmp_path / "events.parquet"))
    load = lambda: load_table(spark, str(tmp_path), "events")  # noqa: E731
    # The first load infers the schema (a job); the second reuses it.
    assert _jobs_in_group(spark, f"schema-first-{tmp_path.name}", load)
    assert _jobs_in_group(spark, f"schema-repeat-{tmp_path.name}", load) == []


def test_parquet_schema_follows_rewritten_file(spark, tmp_path):
    from mapreduce_hadoop_spark.sources.tables import ensure_confs, load_table, parquet_schema

    p = str(tmp_path / "events.parquet")
    _write_events_fixture(p)
    ensure_confs(spark)
    assert "note" not in parquet_schema(spark, p).names
    _write_events_fixture(p, extra_column=True)
    assert "note" in parquet_schema(spark, p).names
    assert load_table(spark, str(tmp_path), "events").columns == ["event_id", "ts", "seen", "note"]
