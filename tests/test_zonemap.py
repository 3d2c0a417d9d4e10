"""The zone-map manifest across every operation that writes a table version:
each version's manifest names exactly its data files, for a zone key whose
bounds come from parquet footers (long) and one whose bounds need a scan
(double); emptied parts stay in the manifest; and manifest reads launch no
Spark jobs of their own."""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from test_readers import _jobs_launched

from rca_data_tools_spark.sources import sinks
from rca_data_tools_spark.sources.zonemap import MANIFEST_NAME

ROWS = 200


def _ddl(kind: str) -> str:
    return f"k {kind}, v double"


def _table(spark, tmp_path, kind: str) -> str:
    root = str(tmp_path / "t")
    df = spark.range(ROWS).select(
        F.col("id").cast(kind).alias("k"), (F.col("id") * 0.5).alias("v")
    )
    sinks.create_table(df, root, zone_key="k", n_files=4)
    return root


def _latest(root: str) -> str:
    return os.path.join(root, f"v{sinks.latest_committed(root)}")


def _data_files(vdir: str) -> set:
    return {f for f in os.listdir(vdir) if f.endswith(".parquet")}


def _upsert(spark, kind: str):
    return spark.createDataFrame([(10, -1.0), (ROWS + 5, -2.0)], "k long, v double") \
        .select(F.col("k").cast(kind).alias("k"), "v")


def _delete_one_file(spark, root: str, kind: str) -> dict:
    """MERGE ... WHEN MATCHED AND d THEN DELETE on every key of one data
    file of the latest version, so the rewrite of that file has 0 rows."""
    vdir = _latest(root)
    victim = sorted(_data_files(vdir))[0]
    keys = pq.read_table(os.path.join(vdir, victim), columns=["k"]).column("k").to_pylist()
    assert keys
    src = spark.createDataFrame([(float(k), 0.0, True) for k in keys], "k double, v double, d boolean") \
        .select(F.col("k").cast(kind).alias("k"), "v", "d")
    return sinks.merge_into_table(spark, root, src, ["k"], _ddl(kind), delete_col="d")


def _run(op: str, spark, tmp_path, root: str, kind: str) -> str:
    """Apply ``op`` to the table at ``root``; return the version dir it wrote."""
    ddl = _ddl(kind)
    if op == "merge":
        sinks.merge_into_table(spark, root, _upsert(spark, kind), ["k"], ddl)
    elif op == "merge_delete":
        _delete_one_file(spark, root, kind)
    elif op == "merge_full":
        sinks.merge_table_full(spark, root, _upsert(spark, kind), ["k"], ddl)
    elif op == "update":
        sinks.update_into_table(spark, root, "k < 20", {"v": "v + 1"}, ddl)
    elif op == "delete":
        sinks.delete_into_table(spark, root, "k < 20", ddl)
    elif op == "optimize":
        sinks.optimize_table(spark, root)
    elif op == "optimize_zorder":
        sinks.optimize_table(spark, root, target_bytes=1 << 11, zorder_cols=["k", "v"])
    elif op == "restore":
        sinks.merge_into_table(spark, root, _upsert(spark, kind), ["k"], ddl)
        sinks.restore_table(root, 0)
    elif op == "clone":
        return sinks.clone_table(root, str(tmp_path / "clone"))
    return _latest(root)


@pytest.mark.parametrize("kind", ["long", "double"])
@pytest.mark.parametrize("op", [
    "create", "merge", "merge_delete", "merge_full", "update", "delete",
    "optimize", "optimize_zorder", "restore", "clone",
])
def test_manifest_names_exactly_the_data_files(spark, tmp_path, op, kind):
    root = _table(spark, tmp_path, kind)
    vdir = _run(op, spark, tmp_path, root, kind)
    with open(os.path.join(vdir, MANIFEST_NAME)) as f:
        doc = json.load(f)
    files = _data_files(vdir)
    assert files and set(doc["files"]) == files
    for col, m in doc.get("columns", {}).items():
        assert set(m) == files, col


def test_emptied_part_keeps_next_merge_metadata_only(spark, tmp_path):
    """A merge that deletes every row of one file writes a 0-row part; on a
    scan-stats (double) zone key that part must still get a manifest entry,
    or the next merge fails the disk cross-check and scans the key column."""
    root = _table(spark, tmp_path, "double")
    st = _delete_one_file(spark, root, "double")
    assert st["files_rewritten"] == 1
    v1 = _latest(root)
    assert len(_data_files(v1)) == 4
    with open(os.path.join(v1, MANIFEST_NAME)) as f:
        assert set(json.load(f)["files"]) == _data_files(v1)
    st = sinks.merge_into_table(spark, root, _upsert(spark, "double"), ["k"], _ddl("double"))
    assert st["manifest_used"] is True


# Spark jobs one merge of this test launched before the manifest code moved
# into zonemap.py; the double key adds the new parts' two-job stats scan
# (no exact footer stats for doubles).
MERGE_JOBS = {"long": 11, "double": 13}


@pytest.mark.parametrize("kind", ["long", "double"])
def test_manifest_reads_launch_no_extra_jobs(spark, tmp_path, kind):
    root = _table(spark, tmp_path, kind)
    ddl = _ddl(kind)
    (_, stats), jobs = _jobs_launched(
        spark, lambda: sinks.range_scan(spark, _latest(root), "k", 10, 20, ddl)
    )
    assert jobs == 0
    assert stats["files_scanned"] < stats["files_total"]
    st, jobs = _jobs_launched(
        spark, lambda: sinks.merge_into_table(spark, root, _upsert(spark, kind), ["k"], ddl)
    )
    assert st["manifest_used"] is True
    assert jobs <= MERGE_JOBS[kind]
