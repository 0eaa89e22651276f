"""sources/loader.py's schema memo: each table's parquet schema is
inferred once per session and file version, and every later load_table
call passes it to the reader instead of starting an inference job."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

from music_database_spark.runtime import job_group
from music_database_spark.sources.loader import DRIVER_TABLES, load_table, table_schema
from tests.conftest import SF_SMOKE as SF


def test_second_load_of_every_table_starts_no_job(spark):
    for t in DRIVER_TABLES:
        load_table(spark, SF, t)
    with job_group(spark, "second_load") as n:
        for t in DRIVER_TABLES:
            load_table(spark, SF, t)
    assert n["jobs"] == 0


def test_memoized_schema_is_the_inferred_one(spark):
    for t in DRIVER_TABLES:
        memo = table_schema(spark, SF, t)  # sets nanosAsLong for events
        assert memo == spark.read.parquet(f"{SF}/{t}.parquet").schema, t


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    d = str(tmp_path)
    shutil.copy(f"{SF}/nation.parquet", f"{d}/nation.parquet")
    with job_group(spark, "first_load") as n:
        load_table(spark, d, "nation")
    assert n["jobs"] == 1
    with job_group(spark, "memo_load") as n:
        load_table(spark, d, "nation")
    assert n["jobs"] == 0
    # rewrite the file with one more column: new size and mtime
    tbl = pq.read_table(f"{d}/nation.parquet")
    tbl = tbl.append_column("n_extra", pa.array([1] * tbl.num_rows, pa.int64()))
    pq.write_table(tbl, f"{d}/nation.parquet")
    with job_group(spark, "rewritten_load") as n:
        df = load_table(spark, d, "nation")
    assert n["jobs"] == 1
    assert "n_extra" in df.columns
    assert df.filter(F.col("n_extra") == 1).count() == tbl.num_rows


def test_events_ts_loads_as_timestamp_in_both_encodings(spark, tmp_path):
    micros = [1_700_000_000_123_456, 1_700_000_060_000_001]
    for unit, ts in (
        ("ns", [m * 1000 + 789 for m in micros]),  # INT64 TIMESTAMP(NANOS)
        ("us", micros),  # parquet timestamp[us]
    ):
        d = tmp_path / unit
        d.mkdir()
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([1, 2], pa.int64()),
                    "ts": pa.array(ts, pa.timestamp(unit)),
                    "user_id": pa.array([7, 8], pa.int64()),
                    "event_type": ["view", "click"],
                    "value": [1.5, 2.5],
                    "props": ["{}", "{}"],
                }
            ),
            str(d / "events.parquet"),
        )
        for _ in range(2):  # the inferring call and the memoized one
            ev = load_table(spark, str(d), "events")
            assert isinstance(ev.schema["ts"].dataType, TimestampType), unit
            got = [r[0] for r in ev.orderBy("event_id").select(F.unix_micros("ts")).collect()]
            assert got == micros, unit
