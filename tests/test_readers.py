"""Reader tests: the per-session table resolution registry (reuse, freshness,
session scoping, URI roots), nanos columns on a partitioned layout, and
partition pruning at a midnight window end."""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from rca_data_tools_spark.sources.readers import load_table

pytestmark = pytest.mark.quick

DAYS = 40  # over Spark's 32-path threshold for parallel partition discovery
ROWS_PER_DAY = 24
START = dt.datetime(2024, 1, 1)


def _day_table(day: int, ts_unit: str = "us", offset: float = 0.0) -> pa.Table:
    ts = np.datetime64(START + dt.timedelta(days=day), "us") + np.arange(ROWS_PER_DAY) * np.timedelta64(1, "h")
    tz = None if ts_unit == "ns" else "UTC"
    return pa.table({
        "ts": pa.array(ts.astype(f"datetime64[{ts_unit}]"), pa.timestamp(ts_unit, tz=tz)),
        "value": pa.array(np.arange(ROWS_PER_DAY, dtype=np.float64) + day + offset),
    })


def _write_day(root: str, day: int, **kw) -> str:
    d = os.path.join(root, f"date={(START + dt.timedelta(days=day)).date()}")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "part-0.parquet")
    # uncompressed, no dictionary: a rewrite with other values keeps the size
    pq.write_table(_day_table(day, **kw), path, compression="none", use_dictionary=False,
                   coerce_timestamps=None, version="2.6")
    return path


def _age(root: str, seconds: float = 60.0) -> None:
    """Backdate every file, as if the table was written a while ago."""
    t = time.time() - seconds
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            os.utime(os.path.join(dirpath, f), (t, t))


def _table(tmp_path, days: int = DAYS, **kw) -> tuple[str, str]:
    sf = str(tmp_path / "sf")
    for day in range(days):
        _write_day(os.path.join(sf, "site"), day, **kw)
    _age(sf)
    return sf, os.path.join(sf, "site")


def _last_job_id(spark) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


def _jobs_launched(spark, fn):
    before = _last_job_id(spark)
    out = fn()
    return out, _last_job_id(spark) - before


def _total(df) -> float:
    return df.agg({"value": "sum"}).collect()[0][0]


def _total_of(t: pa.Table) -> float:
    return float(np.sum(t.column("value").to_numpy()))


def test_repeated_load_launches_no_spark_jobs(spark, tmp_path):
    sf, _ = _table(tmp_path)
    window = {"ts": ("2024-01-05 00:00:00", "2024-01-06 00:00:00")}
    _, first = _jobs_launched(spark, lambda: load_table(spark, sf, "site", time_filters=window))
    assert first >= 1  # discovery and schema inference
    df, again = _jobs_launched(spark, lambda: load_table(spark, sf, "site", time_filters=window))
    assert again == 0
    assert df.count() == ROWS_PER_DAY


def test_young_files_are_not_reused(spark, tmp_path):
    """The racy-clean rule: a resolution taken while a file was seconds old
    is not trusted, because a same-size rewrite could keep its mtime."""
    sf, root = _table(tmp_path)
    _write_day(root, DAYS)  # just written
    load_table(spark, sf, "site")
    _, again = _jobs_launched(spark, lambda: load_table(spark, sf, "site"))
    assert again >= 1
    _age(root)
    load_table(spark, sf, "site")
    _, settled = _jobs_launched(spark, lambda: load_table(spark, sf, "site"))
    assert settled == 0


@pytest.mark.parametrize("change", ["add_partition", "delete_file", "rewrite_same_size"])
def test_changes_are_visible_on_next_call(spark, tmp_path, change):
    sf, root = _table(tmp_path)
    before = load_table(spark, sf, "site")
    total = _total(before)
    assert before.count() == DAYS * ROWS_PER_DAY
    path = os.path.join(root, "date=2024-01-03", "part-0.parquet")
    if change == "add_partition":
        _write_day(root, DAYS)
        rows, total = (DAYS + 1) * ROWS_PER_DAY, total + _total_of(_day_table(DAYS))
    elif change == "delete_file":
        os.remove(path)
        rows, total = (DAYS - 1) * ROWS_PER_DAY, total - _total_of(_day_table(2))
    else:
        size = os.path.getsize(path)
        _write_day(root, 2, offset=1000.0)
        assert os.path.getsize(path) == size
        rows, total = DAYS * ROWS_PER_DAY, total + 1000.0 * ROWS_PER_DAY
    after = load_table(spark, sf, "site")
    assert after.count() == rows
    assert _total(after) == total


def test_two_frames_of_one_table_self_join(spark, tmp_path):
    sf, _ = _table(tmp_path)
    a = load_table(spark, sf, "site")
    b = load_table(spark, sf, "site")  # served from the registry
    pairs = a.join(b, a["ts"] == b["ts"]).select(a["value"], b["value"].alias("v2"))
    assert pairs.count() == DAYS * ROWS_PER_DAY
    assert pairs.filter("value != v2").count() == 0
    # one row per hour, so the next hour's row is a's row 1 h later
    nxt = a.join(b, b["ts"] == a["ts"] + F.expr("INTERVAL 1 HOUR"))
    assert nxt.count() == DAYS * ROWS_PER_DAY - 1


def _relation_session(df):
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return leaves.apply(0).relation().sparkSession()


def test_other_session_never_receives_this_sessions_relation(spark, tmp_path):
    sf, _ = _table(tmp_path)
    load_table(spark, sf, "site")
    mine = load_table(spark, sf, "site")
    other = spark.newSession()
    theirs, launched = _jobs_launched(other, lambda: load_table(other, sf, "site"))
    assert launched >= 1
    assert _relation_session(mine).equals(spark._jsparkSession)
    assert _relation_session(theirs).equals(other._jsparkSession)
    assert not _relation_session(theirs).equals(spark._jsparkSession)
    _, again = _jobs_launched(other, lambda: load_table(other, sf, "site"))
    assert again == 0


def test_nanos_column_on_partitioned_table(spark, tmp_path):
    """A TIMESTAMP(NANOS) column under date= directories: the footer check
    must look below the partition directories, or Spark rejects the type."""
    fresh = spark.newSession()  # nanosAsLong not yet set by another table
    sf, _ = _table(tmp_path, days=3, ts_unit="ns")
    df = load_table(fresh, sf, "site", time_filters={"ts": ("2024-01-02 00:00:00", "2024-01-03 00:00:00")})
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(r.ts for r in df.select("ts").collect())
    assert len(got) == ROWS_PER_DAY
    assert got[0] == dt.datetime(2024, 1, 2) and got[-1] == dt.datetime(2024, 1, 2, 23)


def _scan_num_files(df) -> int:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size()) if leaves.apply(i).nodeName().startswith("Scan")]
    assert len(scans) == 1
    return scans[0].metrics().apply("numFiles").value()


def test_midnight_window_end_scans_one_partition(spark, tmp_path):
    sf, _ = _table(tmp_path)
    day = load_table(spark, sf, "site", time_filters={"ts": ("2024-01-05 00:00:00", "2024-01-06 00:00:00")})
    assert _scan_num_files(day) == 1
    week = load_table(spark, sf, "site", time_filters={"ts": ("2024-01-05 00:00:00", "2024-01-12 00:00:00")})
    assert _scan_num_files(week) == 7
    # a window end inside a day still keeps that day
    part = load_table(spark, sf, "site", time_filters={"ts": ("2024-01-05 00:00:00", "2024-01-06 00:00:01")})
    assert _scan_num_files(part) == 2
    assert part.count() == ROWS_PER_DAY + 1


def test_conf_change_resolves_again(spark, tmp_path):
    """A resolution holds only under the session conf it was taken with:
    here partition-type inference decides the type of `date`."""
    session = spark.newSession()
    sf, _ = _table(tmp_path, days=3)
    assert dict(load_table(session, sf, "site").dtypes)["date"] == "date"
    session.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    df, launched = _jobs_launched(session, lambda: load_table(session, sf, "site"))
    assert launched >= 1
    assert dict(df.dtypes)["date"] == "string"


def test_uri_table_is_read_by_spark(spark, tmp_path):
    """A URI root is not a local path: Spark lists and reads it directly."""
    sf, _ = _table(tmp_path)
    window = {"ts": ("2024-01-05 00:00:00", "2024-01-12 00:00:00")}
    df = load_table(spark, "file://" + sf, "site", time_filters=window)
    assert df.count() == 7 * ROWS_PER_DAY
    assert dict(df.dtypes)["ts"] == "timestamp"


def test_concurrent_loads_share_one_resolution(spark, tmp_path):
    """Jobs on one session may load the same table from several threads."""
    sf, _ = _table(tmp_path)
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(lambda: load_table(spark, sf, "site").count()) for _ in range(16)]
            counts = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert counts == [DAYS * ROWS_PER_DAY] * 16
    _, again = _jobs_launched(spark, lambda: load_table(spark, sf, "site"))
    assert again == 0
