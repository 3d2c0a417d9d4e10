"""Sink-layer tests: overwrite-partition semantics, anti-entropy
reconciliation, index sink, catalog name resolution."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from rca_data_tools_spark.catalog import qc_companion_columns, resolve_or_coalesce, resolve_variable
from rca_data_tools_spark.sources.sinks import (
    file_listing,
    reconcile_outputs,
    stale_outputs,
    write_index_json,
    write_partitioned,
)


def test_overwrite_partition_only_touches_written_partitions(spark, tmp_path):
    out = str(tmp_path / "part_out")
    df1 = spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)], "id int, site string, v double")
    write_partitioned(df1, out, ["site"])
    # regenerate only site=a with new data; site=b must survive
    df2 = spark.createDataFrame([(3, "a", 30.0)], "id int, site string, v double")
    write_partitioned(df2, out, ["site"])
    back = spark.read.parquet(out)
    rows = {(r.site, r.id) for r in back.collect()}
    assert rows == {("a", 3), ("b", 2)}


def test_stale_output_reconciliation(spark, tmp_path):
    out = tmp_path / "files"
    out.mkdir()
    for name in ["keep.png", "stale.png", "also_stale.svg"]:
        (out / name).write_text("x")
    produced = spark.createDataFrame([("keep.png",)], "key string")
    deleted = reconcile_outputs(spark, str(out), produced)
    assert deleted == ["also_stale.svg", "stale.png"]
    assert os.listdir(out) == ["keep.png"]


def test_file_listing_and_index_sink(spark, tmp_path):
    base = tmp_path / "plots"
    base.mkdir()
    (base / "a.png").write_text("aa")
    (base / "b.svg").write_text("b")
    (base / "c.txt").write_text("c")
    listing = file_listing(spark, str(base), extensions=(".png", ".svg"))
    assert {r.key for r in listing.collect()} == {"a.png", "b.svg"}
    idx = str(tmp_path / "index")
    write_index_json(listing.orderBy("key"), idx)
    back = spark.read.json(idx)
    assert back.count() == 2


def test_catalog_resolution(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0, 1, "13")],
        "seawater_pressure double, pressure_depth double, "
        "pco2_qc_executed int, pco2_qartod_results string",
    )
    col = resolve_variable(df, ["int_ctd_pressure", "seawater_pressure", "pressure_depth"])
    assert col is not None and "seawater_pressure" in str(col)
    assert resolve_variable(df, ["nope", "nada"]) is None
    co = resolve_or_coalesce(df, ["seawater_pressure", "pressure_depth"])
    assert "coalesce" in str(co).lower()
    assert qc_companion_columns(df, "pco2") == ["pco2_qc_executed", "pco2_qartod_results"]


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key by the same bucket count join
    without any shuffle: no Exchange operator appears in the physical plan,
    which is the whole point of the bucketed layout at fact⋈fact scale."""
    from rca_data_tools_spark.sources.readers import load_table
    from rca_data_tools_spark.sources.sinks import write_bucketed
    from tests.conftest import SF_SMOKE

    o = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_orderdate")
    l = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    for name in ("t_orders_b", "t_lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    write_bucketed(o, "t_orders_b", ["o_orderkey"], 4, str(tmp_path / "ob"), sort_cols=["o_orderkey"])
    write_bucketed(l, "t_lineitem_b", ["l_orderkey"], 4, str(tmp_path / "lb"), sort_cols=["l_orderkey"])
    ob, lb = spark.table("t_orders_b"), spark.table("t_lineitem_b")
    # force the sort-merge path: broadcast would win on toy sizes and hide
    # the bucketed layout (at fact⋈fact scale neither side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        expect = l.join(o, l.l_orderkey == o.o_orderkey).count()
        assert joined.count() == expect
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for name in ("t_orders_b", "t_lineitem_b"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_partitioned_layout_prunes_partitions(spark, tmp_path):
    """End-to-end proof of the at-scale layout contract: write events under
    date= partitions, read through load_table with a time filter, and assert
    the scan's partition count shrinks to the selected dates only."""
    from pyspark.sql import functions as F

    from rca_data_tools_spark.sources.readers import load_table
    from tests.conftest import SF_SMOKE

    src = load_table(spark, SF_SMOKE, "events")
    root = str(tmp_path / "sfdir")
    (
        src.withColumn("date", F.to_date("ts"))
        .write.mode("overwrite")
        .partitionBy("date")
        .parquet(f"{root}/events")
    )
    n_dates_total = src.select(F.to_date("ts")).distinct().count()
    assert n_dates_total > 3

    df = load_table(
        spark, root, "events",
        time_filters={"ts": ("2024-01-10 00:00:00", "2024-01-13 00:00:00")},
    )
    rows = df.count()
    expect = src.filter(
        (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-13")
    ).count()
    assert rows == expect
    # every surviving file path is one of the selected date partitions
    files = [r[0] for r in df.select(F.input_file_name()).distinct().collect()]
    assert files
    for f in files:
        assert any(f"date=2024-01-1{d}" in f for d in (0, 1, 2)), f


def test_write_clustered_tightens_footer_stats_on_both_dims(spark, tmp_path):
    """Z-order clustered writes must leave every parquet file's footer
    min/max tight on BOTH clustering columns (file skipping works for
    filters on either), where a plain write leaves at least one dimension
    spanning ~the global range per file."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from rca_data_tools_spark.sources.readers import load_table
    from rca_data_tools_spark.sources.sinks import write_clustered
    from tests.conftest import SF_CORRECTNESS

    src = load_table(spark, SF_CORRECTNESS, "events").select(
        (F.col("ts").cast("long")).alias("t"), "user_id", "value"
    )
    glob_t = src.agg(F.max("t") - F.min("t")).collect()[0][0]
    glob_u = src.agg(F.max("user_id") - F.min("user_id")).collect()[0][0]

    def file_spans(d):
        spans = []
        for f in os.listdir(d):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            tmin = umin = None
            tmax = umax = None
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    c = row.column(ci)
                    name = c.path_in_schema
                    st = c.statistics
                    if st is None or name not in ("t", "user_id"):
                        continue
                    if name == "t":
                        tmin = st.min if tmin is None else min(tmin, st.min)
                        tmax = st.max if tmax is None else max(tmax, st.max)
                    else:
                        umin = st.min if umin is None else min(umin, st.min)
                        umax = st.max if umax is None else max(umax, st.max)
            if tmin is not None and umin is not None:
                spans.append(((tmax - tmin) / glob_t, (umax - umin) / glob_u))
        return spans

    clustered = str(tmp_path / "clustered")
    write_clustered(src, clustered, ["t", "user_id"], n_files=16)
    plain = str(tmp_path / "plain")
    src.repartition(8).write.mode("overwrite").parquet(plain)

    cs = file_spans(clustered)
    ps = file_spans(plain)
    assert len(cs) >= 4 and len(ps) >= 4
    c_t = sum(s[0] for s in cs) / len(cs)
    c_u = sum(s[1] for s in cs) / len(cs)
    p_t = sum(s[0] for s in ps) / len(ps)
    p_u = sum(s[1] for s in ps) / len(ps)
    # clustered: both dims bounded well below global per file
    assert c_t <= 0.45 and c_u <= 0.45, (c_t, c_u)
    # plain round-robin: both dims ~global per file
    assert p_t >= 0.9 and p_u >= 0.9, (p_t, p_u)
    # nothing lost in the rewrite
    assert spark.read.parquet(clustered).count() == src.count()


def test_merge_upsert_semantics(spark):
    from rca_data_tools_spark.sources.sinks import merge_upsert

    target = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 1, 30)], "k string, sub int, v int"
    )
    source = spark.createDataFrame(
        [("a", 2, 99), ("c", 1, 77)], "k string, sub int, v int"
    )
    got = {
        (r["k"], r["sub"]): r["v"]
        for r in merge_upsert(target, source, ["k", "sub"]).collect()
    }
    assert got == {
        ("a", 1): 10,   # untouched target row survives
        ("a", 2): 99,   # matched key takes the SOURCE version
        ("b", 1): 30,   # untouched target row survives
        ("c", 1): 77,   # source-only key inserts
    }


def test_merge_upsert_refusals(spark):
    import pytest as _pytest

    from rca_data_tools_spark.sources.sinks import merge_upsert

    t = spark.createDataFrame([("a", 1)], "k string, v int")
    with _pytest.raises(ValueError, match="at least one key"):
        merge_upsert(t, t, [])
    with _pytest.raises(ValueError, match="missing"):
        merge_upsert(t, t, ["nope"])
    s = spark.createDataFrame([("a", 1, 2)], "k string, v int, extra int")
    with _pytest.raises(ValueError, match="identical schemas"):
        merge_upsert(t, s, ["k"])


def test_merge_upsert_duplicate_source_keys_raise(spark):
    """MERGE contract (Delta/Iceberg): more than one source row per key is
    an error, not a silent double-emit. The check is IN-PLAN (a guarded
    expression on the join key — the merge stays a lazy transform and the
    guard validates exactly the rows being merged), so it surfaces at
    execution time, like Delta's own MERGE failure."""
    import pytest as _pytest

    from rca_data_tools_spark.sources.sinks import merge_upsert

    t = spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int")
    s = spark.createDataFrame([("a", 10), ("a", 11)], "k string, v int")
    with _pytest.raises(Exception, match="duplicate keys in source"):
        merge_upsert(t, s, ["k"]).collect()
    # clean sources still merge (the guard is inert at count 1)
    ok = spark.createDataFrame([("a", 10), ("c", 30)], "k string, v int")
    got = {r["k"]: r["v"] for r in merge_upsert(t, ok, ["k"]).collect()}
    assert got == {"a": 10, "b": 2, "c": 30}


def test_merge_upsert_pruned_rewrites_only_matched_files(spark, tmp_path):
    """Copy-on-write file pruning: zone map -> candidates -> exact matched
    set; only files containing matched keys rewrite, unmatched files
    HARDLINK into the new version, inserts land in the new parts, and the
    merged content equals the unpruned merge."""
    import os

    from rca_data_tools_spark.sources.sinks import merge_upsert, merge_upsert_pruned

    ddl = "id long, v double"
    target_dir = str(tmp_path / "v0")
    os.makedirs(target_dir)
    # four range-clustered files: [0,25), [25,50), [50,75), [75,100)
    for lo in (0, 25, 50, 75):
        spark.createDataFrame(
            [(i, float(i)) for i in range(lo, lo + 25)], ddl
        ).coalesce(1).write.parquet(str(tmp_path / f"s{lo}"))
        part = [f for f in os.listdir(str(tmp_path / f"s{lo}")) if f.endswith(".parquet")][0]
        os.rename(str(tmp_path / f"s{lo}" / part), os.path.join(target_dir, f"f{lo}.parquet"))

    # updates hit only [30, 40) (file f25); inserts are fresh ids >= 100
    source = spark.createDataFrame(
        [(i, 1000.0 + i) for i in range(30, 40)] + [(100, -1.0), (101, -2.0)], ddl
    )
    out_dir = str(tmp_path / "v1")
    stats = merge_upsert_pruned(spark, target_dir, out_dir, source, ["id"], ddl)
    assert stats["files_total"] == 4
    assert stats["files_rewritten"] == 1
    assert stats["files_rewritten"] <= stats["files_candidates"] < stats["files_total"]

    # three of four files carried over as hardlinks (same inode)
    t_inodes = {os.stat(os.path.join(target_dir, f)).st_ino for f in os.listdir(target_dir)}
    o_inodes = {os.stat(os.path.join(out_dir, f)).st_ino
                for f in os.listdir(out_dir) if f.endswith(".parquet")}
    assert len(t_inodes & o_inodes) == 3

    got = sorted(map(tuple, spark.read.schema(ddl).parquet(out_dir).collect()))
    expect = sorted(map(tuple, merge_upsert(
        spark.read.schema(ddl).parquet(target_dir), source, ["id"]
    ).collect()))
    assert got == expect
    assert (0, 0.0) in got and (35, 1035.0) in got and (100, -1.0) in got


def test_merge_upsert_pruned_zone_false_positive_not_rewritten(spark, tmp_path):
    """A file whose key RANGE overlaps a source key but which does not
    CONTAIN it is a zone-map false positive: counted as candidate, opened,
    and left un-rewritten (hardlinked) by the exact containment check."""
    import os

    from rca_data_tools_spark.sources.sinks import merge_upsert_pruned

    ddl = "id long, v double"
    target_dir = str(tmp_path / "v0")
    os.makedirs(target_dir)
    # file A holds EVEN ids 0..18, file B holds 100..109
    for name, ids in (("a", list(range(0, 20, 2))), ("b", list(range(100, 110)))):
        spark.createDataFrame([(i, float(i)) for i in ids], ddl).coalesce(1)\
            .write.parquet(str(tmp_path / f"s{name}"))
        part = [f for f in os.listdir(str(tmp_path / f"s{name}")) if f.endswith(".parquet")][0]
        os.rename(str(tmp_path / f"s{name}" / part), os.path.join(target_dir, f"{name}.parquet"))

    # key 7 is inside A's [0,18] range but absent (odd) -> pure insert
    source = spark.createDataFrame([(7, 7.7)], ddl)
    out_dir = str(tmp_path / "v1")
    stats = merge_upsert_pruned(spark, target_dir, out_dir, source, ["id"], ddl)
    assert stats == {
        "files_total": 2,
        "files_candidates": 1,
        "files_rewritten": 0,
        "manifest_used": False,
    }
    got = sorted(map(tuple, spark.read.schema(ddl).parquet(out_dir).collect()))
    assert (7, 7.7) in got and len(got) == 21


def test_merge_changes_feed(spark):
    """merge_changes emits the Delta-CDF-shaped feed: update rows carry the
    replaced target values, inserts carry NULL befores, untouched target
    keys emit nothing, and duplicate source keys raise."""
    import pytest as _pytest

    from rca_data_tools_spark.sources.sinks import merge_changes

    t = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "k string, v int")
    s = spark.createDataFrame([("a", 10), ("d", 40)], "k string, v int")
    got = {r["k"]: (r["op"], r["before_v"], r["after_v"])
           for r in merge_changes(t, s, ["k"]).collect()}
    assert got == {"a": ("update", 1, 10), "d": ("insert", None, 40)}
    dup = spark.createDataFrame([("a", 1), ("a", 2)], "k string, v int")
    with _pytest.raises(Exception, match="duplicate keys"):
        merge_changes(t, dup, ["k"]).collect()


def test_merge_manifest_prunes_without_scanning(spark, tmp_path):
    """The persisted manifest makes the zone-map pass pure metadata: a
    second merge against a version WRITTEN BY merge_upsert_pruned must not
    open non-candidate data files at all — proven by CORRUPTING one
    (decoding it would raise) — while the manifest-less initial merge
    builds its map by scanning. Content stays identical to the unpruned
    merge throughout."""
    import os

    from rca_data_tools_spark.sources.sinks import (
        merge_upsert,
        merge_upsert_pruned,
    )
    from rca_data_tools_spark.sources.zonemap import MANIFEST_NAME

    ddl = "id long, v double"
    v0 = str(tmp_path / "v0")
    os.makedirs(v0)
    for lo in (0, 100, 200):
        spark.createDataFrame(
            [(i, float(i)) for i in range(lo, lo + 50)], ddl
        ).coalesce(1).write.parquet(str(tmp_path / f"s{lo}"))
        part = [f for f in os.listdir(str(tmp_path / f"s{lo}")) if f.endswith(".parquet")][0]
        os.rename(str(tmp_path / f"s{lo}" / part), os.path.join(v0, f"f{lo}.parquet"))

    # merge 1: no manifest yet -> scan path; touches only [100, 110)
    s1 = spark.createDataFrame([(i, -1.0) for i in range(100, 110)], ddl)
    v1 = str(tmp_path / "v1")
    stats1 = merge_upsert_pruned(spark, v0, v1, s1, ["id"], ddl)
    assert stats1["manifest_used"] is False and stats1["files_rewritten"] == 1
    assert os.path.exists(os.path.join(v1, MANIFEST_NAME))

    # corrupt a file merge 2 must NOT open (range [0,49] — no source key)
    f0 = next(f for f in os.listdir(v1) if f == "f0.parquet")
    with open(os.path.join(v1, f0), "r+b") as fh:
        fh.seek(0)
        fh.write(b"CORRUPT!")

    s2 = spark.createDataFrame([(i, -2.0) for i in range(200, 205)], ddl)
    v2 = str(tmp_path / "v2")
    stats2 = merge_upsert_pruned(spark, v1, v2, s2, ["id"], ddl)
    assert stats2["manifest_used"] is True
    assert stats2["files_rewritten"] == 1 and stats2["files_total"] == 3

    # the untouched-but-corrupted file hardlinked forward; every OTHER row
    # of v2 equals the sequential unpruned merge (read around the corrupt
    # file, which holds ids 0..49)
    good = [f for f in os.listdir(v2) if f.endswith(".parquet") and f != "f0.parquet"]
    got = sorted(map(tuple, spark.read.schema(ddl).parquet(
        *[os.path.join(v2, f) for f in good]).collect()))
    base = spark.createDataFrame(
        [(i, float(i)) for i in list(range(100, 150)) + list(range(200, 250))], ddl
    )
    expect = sorted(map(tuple, merge_upsert(merge_upsert(base, s1, ["id"]), s2, ["id"]).collect()))
    assert got == expect


def test_vacuum_versions_keeps_shared_files_alive(spark, tmp_path):
    """VACUUM removes old version directories without touching data any
    surviving version still references: hardlinked files stay readable, the
    newest version's content is bit-identical, and bytes_freed counts only
    last-reference bytes."""
    import os

    import pytest as _pytest

    from rca_data_tools_spark.sources.sinks import merge_upsert_pruned, vacuum_versions

    ddl = "id long, v double"
    root = str(tmp_path / "table")
    v0 = os.path.join(root, "v0")
    os.makedirs(v0)
    for lo in (0, 100):
        spark.createDataFrame(
            [(i, float(i)) for i in range(lo, lo + 50)], ddl
        ).coalesce(1).write.parquet(str(tmp_path / f"s{lo}"))
        part = [f for f in os.listdir(str(tmp_path / f"s{lo}")) if f.endswith(".parquet")][0]
        os.rename(str(tmp_path / f"s{lo}" / part), os.path.join(v0, f"f{lo}.parquet"))
    merge_upsert_pruned(
        spark, v0, os.path.join(root, "v1"),
        spark.createDataFrame([(105, -1.0)], ddl), ["id"], ddl,
    )
    merge_upsert_pruned(
        spark, os.path.join(root, "v1"), os.path.join(root, "v2"),
        spark.createDataFrame([(3, -2.0)], ddl), ["id"], ddl,
    )
    before = sorted(map(tuple, spark.read.schema(ddl).parquet(os.path.join(root, "v2")).collect()))

    stats = vacuum_versions(root, keep_last=1)
    assert stats["removed"] == ["v0", "v1"] and stats["kept"] == ["v2"]
    assert stats["bytes_freed"] > 0  # the rewritten files' old copies freed
    assert sorted(os.listdir(root)) == ["v2"]
    after = sorted(map(tuple, spark.read.schema(ddl).parquet(os.path.join(root, "v2")).collect()))
    assert after == before and (3, -2.0) in after and (105, -1.0) in after

    with _pytest.raises(ValueError, match="keep_last"):
        vacuum_versions(root, keep_last=0)


def test_merge_upsert_delete_and_schema_evolution(spark):
    """WHEN MATCHED DELETE via a flag column, and Delta-style schema
    evolution: new source columns appear (old rows NULL), omitted target
    columns are PRESERVED on matched rows and NULL on inserts."""
    from rca_data_tools_spark.sources.sinks import merge_upsert

    t = spark.createDataFrame([("a", 1, "x"), ("b", 2, "y"), ("c", 3, "z")],
                              "k string, v int, note string")
    # deletes: drop 'b'; update 'a'; insert 'd'; flagged-but-unmatched 'e' no-op
    s = spark.createDataFrame(
        [("a", 10, "x2", False), ("b", 0, "", True), ("d", 40, "w", False),
         ("e", 0, "", True)],
        "k string, v int, note string, _del boolean")
    got = {r["k"]: (r["v"], r["note"])
           for r in merge_upsert(t, s, ["k"], delete_col="_del").collect()}
    assert got == {"a": (10, "x2"), "c": (3, "z"), "d": (40, "w")}

    # evolution: source omits 'note' (preserved / NULL) and adds 'extra'
    s2 = spark.createDataFrame([("a", 100, 7.5), ("d", 400, 8.5)],
                               "k string, v int, extra double")
    out = merge_upsert(t, s2, ["k"], schema_evolution=True)
    assert set(out.columns) == {"k", "v", "note", "extra"}
    got2 = {r["k"]: (r["v"], r["note"], r["extra"]) for r in out.collect()}
    assert got2 == {
        "a": (100, "x", 7.5),   # updated v/extra, PRESERVED target-only note
        "b": (2, "y", None),    # untouched target row, NULL new column
        "c": (3, "z", None),
        "d": (400, None, 8.5),  # insert: NULL for target-only note
    }

    # evolution OFF still refuses mismatched schemas loudly
    import pytest as _pytest
    with _pytest.raises(ValueError, match="identical schemas"):
        merge_upsert(t, s2, ["k"])


def test_deletion_vectors_never_touch_data_files(spark, tmp_path):
    """Merge-on-read deletes: every data file of every version shares its
    inode with v0 (zero bytes rewritten), vectors COMPOSE across versions,
    and the DV-subtracted scan equals the predicate-filtered original."""
    import os

    from rca_data_tools_spark.sources.sinks import delete_where, read_with_deletes

    ddl = "id long, v double"
    root = str(tmp_path / "t")
    v0 = os.path.join(root, "v0")
    spark.createDataFrame([(i, float(i)) for i in range(100)], ddl)\
        .repartition(4).write.parquet(v0)

    s1 = delete_where(spark, v0, os.path.join(root, "v1"), "id % 3 = 0", ddl)
    s2 = delete_where(spark, os.path.join(root, "v1"), os.path.join(root, "v2"),
                      "v > 90", ddl)
    assert s1["files_rewritten"] == s2["files_rewritten"] == 0
    assert s1["rows_deleted"] == 34  # 0,3,...,99
    assert s2["rows_deleted"] == 6   # 91..99 minus the multiples of 3 (93,96,99)

    inodes0 = {f: os.stat(os.path.join(v0, f)).st_ino
               for f in os.listdir(v0) if f.endswith(".parquet")}
    for ver in ("v1", "v2"):
        for f, ino in inodes0.items():
            assert os.stat(os.path.join(root, ver, f)).st_ino == ino

    got = sorted(r["id"] for r in read_with_deletes(spark, os.path.join(root, "v2"), ddl).collect())
    expect = [i for i in range(100) if i % 3 != 0 and i <= 90]
    assert got == expect
    # deleting the same rows again is a no-op (vectors are sets)
    s3 = delete_where(spark, os.path.join(root, "v2"), os.path.join(root, "v3"),
                      "id % 3 = 0", ddl)
    assert s3["rows_deleted"] == 0
    got3 = sorted(r["id"] for r in read_with_deletes(spark, os.path.join(root, "v3"), ddl).collect())
    assert got3 == expect


def test_compact_materializes_deletion_vectors(spark, tmp_path):
    """OPTIMIZE semantics on a DV-bearing version (VERDICT r08 item 1a):
    compaction reads THROUGH the deletion vectors, the compacted output
    carries no sidecar, and deleted rows stay deleted — no resurrection."""
    import os

    from rca_data_tools_spark.sources.sinks import (
        compact_partitioned, delete_where, has_deletes, read_with_deletes,
    )

    ddl = "id long, v double"
    root = str(tmp_path / "t")
    v0 = os.path.join(root, "v0")
    spark.createDataFrame([(i, float(i)) for i in range(100)], ddl)\
        .repartition(4).write.parquet(v0)
    v1 = os.path.join(root, "v1")
    delete_where(spark, v0, v1, "id % 3 = 0", ddl)
    assert has_deletes(v1)

    stats = compact_partitioned(spark, v1, target_bytes=1 << 30)
    assert stats["files_before"] == 4 and stats["files_after"] == 1
    assert not has_deletes(v1)  # vectors materialized, sidecar cleared
    got = sorted(r["id"] for r in spark.read.schema(ddl).parquet(v1).collect())
    assert got == [i for i in range(100) if i % 3 != 0]
    # the DV-aware read of the compacted table agrees (no sidecar path)
    got2 = sorted(r["id"] for r in read_with_deletes(spark, v1, ddl).collect())
    assert got2 == got


def test_merge_pruned_respects_deletion_vectors(spark, tmp_path):
    """Pruned MERGE on a DV-bearing version (VERDICT r08 item 1b): deleted
    rows never resurrect through the matched-file rewrite, carried-over
    files keep their vectors, rewritten files drop theirs (their deletes
    became physical), and a file whose only containing rows are deleted is
    NOT rewritten."""
    import os

    from rca_data_tools_spark.sources.sinks import (
        delete_where, has_deletes, merge_upsert_pruned, read_deletion_vectors,
        read_with_deletes,
    )

    ddl = "id long, v double"
    root = str(tmp_path / "t")
    v0 = os.path.join(root, "v0")
    os.makedirs(v0)
    # four range-clustered files: [0,25), [25,50), [50,75), [75,100)
    for lo in (0, 25, 50, 75):
        spark.createDataFrame(
            [(i, float(i)) for i in range(lo, lo + 25)], ddl
        ).coalesce(1).write.parquet(str(tmp_path / f"s{lo}"))
        part = [f for f in os.listdir(str(tmp_path / f"s{lo}")) if f.endswith(".parquet")][0]
        os.rename(str(tmp_path / f"s{lo}" / part), os.path.join(v0, f"f{lo}.parquet"))

    # delete 30..34 (in file f25) and 60..64 (in file f50)
    v1 = os.path.join(root, "v1")
    delete_where(spark, v0, v1, "id BETWEEN 30 AND 34 OR id BETWEEN 60 AND 64", ddl)

    # source updates 35..39 (matches f25 only: f50's ids 60..64 are deleted,
    # and source id 62 must NOT count f50 as matched — its row is deleted)
    source = spark.createDataFrame(
        [(i, 1000.0 + i) for i in range(35, 40)] + [(62, -62.0), (200, 2.0)], ddl
    )
    v2 = os.path.join(root, "v2")
    stats = merge_upsert_pruned(spark, v1, v2, source, ["id"], ddl)
    assert stats["files_total"] == 4
    assert stats["files_rewritten"] == 1  # f25 only: 62 is a deleted row -> insert

    back = {r["id"]: r["v"] for r in read_with_deletes(spark, v2, ddl).collect()}
    # deleted rows stayed deleted through the merge
    assert all(i not in back for i in range(30, 35)), "f25 deletes resurrected"
    assert all(i not in back for i in range(60, 65) if i != 62), "f50 deletes resurrected"
    assert back[62] == -62.0 and back[200] == 2.0  # 62 re-inserted by the merge
    assert back[35] == 1035.0 and back[0] == 0.0
    assert len(back) == 100 - 10 + 2  # 100 rows - 10 deleted + ids 62,200 back

    # sidecar carried for the un-rewritten f50, dropped for rewritten f25
    dv = {(r["f"], r["pos"]) for r in read_deletion_vectors(spark, v2).collect()}
    assert {f for f, _ in dv} == {"f50.parquet"}
    assert len(dv) == 5
    assert has_deletes(v2)


def test_delete_vectors_stay_executor_side_at_scale(spark, tmp_path):
    """The DV lifecycle never materializes positions driver-side (VERDICT
    r08 item 2): a delete matching >10^6 rows writes its sidecar as a
    distributed parquet job, and the merge-on-read scan's plan joins two
    FILE scans — no LocalTableScan (driver-built rows), no forced
    broadcast of a driver list."""
    import os

    from rca_data_tools_spark.sources.sinks import delete_where, read_with_deletes

    ddl = "id long, v double"
    root = str(tmp_path / "t")
    v0 = os.path.join(root, "v0")
    spark.range(0, 2_500_000).select(
        F.col("id"), (F.col("id") % 97).cast("double").alias("v")
    ).repartition(8).write.parquet(v0)

    v1 = os.path.join(root, "v1")
    s = delete_where(spark, v0, v1, "id % 2 = 0", ddl)
    assert s["rows_deleted"] == 1_250_000
    back = read_with_deletes(spark, v1, ddl)
    assert back.count() == 1_250_000
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan, plan
    # both the data and the sidecar are file scans
    assert plan.count("FileScan parquet") >= 2 or plan.count("Scan parquet") >= 2, plan


def test_merge_into_table_optimistic_concurrency(spark, tmp_path):
    """Two writers race for v1: the loser detects the claimed version,
    re-reads the winner's COMMITTED v1 and lands v2 REBASED on it — both
    updates survive (no lost update). An uncommitted claim blocks and the
    loser refuses loudly after retries."""
    import os

    import pytest as _pytest

    from rca_data_tools_spark.sources.sinks import (
        VersionConflict, mark_committed, merge_into_table, read_version,
    )

    ddl = "id long, v double"
    root = str(tmp_path / "t")
    v0 = os.path.join(root, "v0")
    spark.createDataFrame([(i, float(i)) for i in range(50)], ddl)\
        .coalesce(1).write.parquet(v0)
    mark_committed(v0)

    # writer A claims AND commits v1 out-of-band (simulating the race:
    # B computed its base before A published)
    a_src = spark.createDataFrame([(1, 111.0)], ddl)
    sa = merge_into_table(spark, root, a_src, ["id"], ddl)
    assert sa["version"] == 1 and sa["attempts"] == 1

    # writer B started from v0 too; its attempt at v1 collides, retries,
    # and lands v2 rebased on A's v1 — A's update visible underneath
    b_src = spark.createDataFrame([(2, 222.0)], ddl)
    sb = merge_into_table(spark, root, b_src, ["id"], ddl)
    assert sb["version"] == 2
    final = {r["id"]: r["v"] for r in read_version(spark, root, ddl).collect()}
    assert final[1] == 111.0 and final[2] == 222.0 and final[0] == 0.0

    # a claimed-but-never-committed v3 blocks the chain: refuse loudly
    os.makedirs(os.path.join(root, "v3"))
    with _pytest.raises(VersionConflict, match="claimed but"):
        merge_into_table(spark, root, b_src, ["id"], ddl, retries=1)


def test_read_version_time_travel_with_deletes(spark, tmp_path):
    """read_version resolves n / as_of_ts / latest and applies EACH
    version's own deletion vectors — a DV in the chain is honored exactly
    at the versions it exists in."""
    import os
    import time

    import pytest as _pytest

    from rca_data_tools_spark.sources.sinks import (
        delete_where, mark_committed, merge_into_table, read_version,
    )

    ddl = "id long, v double"
    root = str(tmp_path / "t")
    spark.createDataFrame([(i, float(i)) for i in range(20)], ddl)\
        .coalesce(1).write.parquet(os.path.join(root, "v0"))
    mark_committed(os.path.join(root, "v0"))
    t0 = time.time()

    delete_where(spark, os.path.join(root, "v0"), os.path.join(root, "v1"),
                 "id >= 15", ddl)
    mark_committed(os.path.join(root, "v1"))

    merge_into_table(spark, root, spark.createDataFrame([(3, 33.0)], ddl), ["id"], ddl)

    assert read_version(spark, root, ddl, n=0).count() == 20
    assert read_version(spark, root, ddl, n=1).count() == 15  # DV applied
    latest = {r["id"]: r["v"] for r in read_version(spark, root, ddl).collect()}
    assert latest[3] == 33.0 and len(latest) == 15
    assert read_version(spark, root, ddl, as_of_ts=t0).count() == 20
    assert read_version(spark, root, ddl, as_of_ts=time.time()).count() == 15
    with _pytest.raises(ValueError, match="not in"):
        read_version(spark, root, ddl, n=9)
    with _pytest.raises(ValueError, match="at or before"):
        read_version(spark, root, ddl, as_of_ts=1.0)


def test_update_where_merge_on_read(spark, tmp_path):
    """Merge-on-read UPDATE: matched rows' old images disappear via the
    deletion vectors, updated images append as new parts, every existing
    data file hardlinks unchanged, unmentioned columns carry over — and a
    row already deleted by the version's vectors is NOT updated back to
    life."""
    import os

    from rca_data_tools_spark.sources.sinks import (
        delete_where, read_with_deletes, update_where,
    )

    ddl = "id long, v double, tag string"
    root = str(tmp_path / "t")
    v0 = os.path.join(root, "v0")
    spark.createDataFrame(
        [(i, float(i), "x") for i in range(40)], ddl
    ).repartition(4).write.parquet(v0)

    # delete ids 10..14, then update ids 10..19: only 15..19 still exist
    delete_where(spark, v0, os.path.join(root, "v1"), "id BETWEEN 10 AND 14", ddl)
    s = update_where(
        spark, os.path.join(root, "v1"), os.path.join(root, "v2"),
        "id BETWEEN 10 AND 19", {"v": "v + 1000", "tag": "'upd'"}, ddl,
    )
    assert s["files_rewritten"] == 0
    assert s["rows_updated"] == 5  # 15..19; 10..14 are deleted

    # v1 data files all hardlink into v2
    inodes1 = {f: os.stat(os.path.join(root, "v1", f)).st_ino
               for f in os.listdir(os.path.join(root, "v1")) if f.endswith(".parquet")}
    for f, ino in inodes1.items():
        assert os.stat(os.path.join(root, "v2", f)).st_ino == ino

    back = {r["id"]: (r["v"], r["tag"])
            for r in read_with_deletes(spark, os.path.join(root, "v2"), ddl).collect()}
    assert len(back) == 35  # 40 - 5 deleted
    for i in range(10, 15):
        assert i not in back  # deletes survived the update
    for i in range(15, 20):
        assert back[i] == (1000.0 + i, "upd")
    assert back[0] == (0.0, "x") and back[39] == (39.0, "x")

    # updating an updated row hits the NEW image (old one is vectored out)
    s2 = update_where(
        spark, os.path.join(root, "v2"), os.path.join(root, "v3"),
        "tag = 'upd'", {"v": "v + 1"}, ddl,
    )
    assert s2["rows_updated"] == 5
    back3 = {r["id"]: r["v"]
             for r in read_with_deletes(spark, os.path.join(root, "v3"), ddl).collect()}
    assert back3[15] == 1016.0 and len(back3) == 35

    import pytest as _pytest
    with _pytest.raises(ValueError, match="not in schema"):
        update_where(spark, os.path.join(root, "v3"), os.path.join(root, "v4"),
                     "id = 0", {"nope": "1"}, ddl)


def test_dml_on_chain_and_optimize(spark, tmp_path):
    """The chain-advancing DML family shares one claim/commit protocol:
    delete_into_table / update_into_table / optimize_table each land the
    next committed version; OPTIMIZE materializes the chain's deletion
    vectors into few files while old versions (and their sidecars) stay
    time-travelable."""
    import os

    from rca_data_tools_spark.sources.sinks import (
        delete_into_table, has_deletes, mark_committed, optimize_table,
        read_version, update_into_table,
    )

    ddl = "id long, v double"
    root = str(tmp_path / "t")
    spark.createDataFrame([(i, float(i)) for i in range(100)], ddl)\
        .repartition(8).write.parquet(os.path.join(root, "v0"))
    mark_committed(os.path.join(root, "v0"))

    s1 = delete_into_table(spark, root, "id % 4 = 0", ddl)
    assert s1["version"] == 1 and s1["rows_deleted"] == 25
    s2 = update_into_table(spark, root, "id % 10 = 1", {"v": "v * -1"}, ddl)
    assert s2["version"] == 2 and s2["rows_updated"] == 10
    s3 = optimize_table(spark, root, target_bytes=1 << 30)
    assert s3["version"] == 3
    assert s3["files_before"] >= 8 and s3["files_after"] == 1
    assert not has_deletes(os.path.join(root, "v3"))  # materialized + cleared

    final = {r["id"]: r["v"] for r in read_version(spark, root, ddl).collect()}
    assert len(final) == 75
    assert final[1] == -1.0 and final[11] == -11.0 and final[2] == 2.0
    assert 0 not in final and 96 not in final
    # time travel still sees pre-optimize states, vectors intact
    assert read_version(spark, root, ddl, n=0).count() == 100
    assert read_version(spark, root, ddl, n=1).count() == 75
    assert has_deletes(os.path.join(root, "v1"))


def test_vacuum_is_commit_protocol_aware(spark, tmp_path):
    """Retention counts COMMITTED versions only: a crashed writer's
    uncommitted claim beyond the committed tip is left untouched (a
    mid-flight writer may still publish it) and NEVER pushes the real
    current version out of the window; an aborted claim OLDER than the
    committed tip is reaped like any old version."""
    import os

    from rca_data_tools_spark.sources.sinks import mark_committed, vacuum_versions

    ddl = "id long"
    root = str(tmp_path / "t")
    for v in (0, 1, 2):
        spark.range(v, v + 3).coalesce(1).write.parquet(os.path.join(root, f"v{v}"))
        mark_committed(os.path.join(root, f"v{v}"))
    # crashed claims: v3 (beyond the tip — in-flight) and an aborted
    # leftover that lost its race long ago
    os.makedirs(os.path.join(root, "v3"))

    out = vacuum_versions(root, keep_last=1)
    # v2 is the current committed version: it MUST survive even though the
    # uncommitted v3 is numerically newer; v3 itself is untouched
    assert out["kept"] == ["v2", "v3"]
    assert out["removed"] == ["v0", "v1"]
    assert spark.read.schema(ddl).parquet(os.path.join(root, "v2")).count() == 3
    assert os.path.isdir(os.path.join(root, "v3"))

    # an uncommitted claim OLDER than the tip is garbage: publish v4 over
    # the stale v3 claim is impossible (dir taken) — but once v4+ exist
    # committed, the stale v3 reaps
    os.rmdir(os.path.join(root, "v3"))
    spark.range(10, 13).coalesce(1).write.parquet(os.path.join(root, "v3"))
    mark_committed(os.path.join(root, "v3"))
    os.makedirs(os.path.join(root, "v4"))  # aborted claim
    spark.range(20, 23).coalesce(1).write.parquet(os.path.join(root, "v5"))
    mark_committed(os.path.join(root, "v5"))
    out2 = vacuum_versions(root, keep_last=1)
    assert out2["kept"] == ["v5"]
    assert set(out2["removed"]) == {"v2", "v3", "v4"}


def test_manifest_survives_update_and_optimize(spark, tmp_path):
    """The zone-map manifest stays alive across the whole DML family:
    UPDATE extends it (carried entries + one stats scan of the new image
    parts), OPTIMIZE rebuilds it for the compacted files — so the NEXT
    pruned merge stays metadata-only (manifest_used=True) instead of
    falling back to a full key-column scan."""
    import os

    from rca_data_tools_spark.sources.sinks import (
        mark_committed, merge_into_table, optimize_table,
        update_into_table,
    )
    from rca_data_tools_spark.sources.zonemap import _read_manifest

    ddl = "id long, v double"
    root = str(tmp_path / "t")
    spark.createDataFrame([(i, float(i)) for i in range(100)], ddl)\
        .repartitionByRange(4, "id").write.parquet(os.path.join(root, "v0"))
    mark_committed(os.path.join(root, "v0"))

    # v1: merge writes the manifest
    merge_into_table(spark, root, spark.createDataFrame([(5, 55.0)], ddl), ["id"], ddl)
    # v2: update must EXTEND it (hardlinked entries + the new image part)
    update_into_table(spark, root, "id BETWEEN 90 AND 94", {"v": "v + 1"}, ddl)
    m2 = _read_manifest(os.path.join(root, "v2"), "id")
    assert m2 is not None
    files2 = {f for f in os.listdir(os.path.join(root, "v2")) if f.endswith(".parquet")}
    assert set(m2) == files2  # the cross-check will accept it
    # v3: merge against the updated version is metadata-only
    s3 = merge_into_table(spark, root, spark.createDataFrame([(6, 66.0)], ddl), ["id"], ddl)
    assert s3["manifest_used"] is True
    # v4: optimize rebuilds the manifest for the compacted file(s)
    optimize_table(spark, root, target_bytes=1 << 30)
    m4 = _read_manifest(os.path.join(root, "v4"), "id")
    assert m4 is not None and len(m4) == 1
    s5 = merge_into_table(spark, root, spark.createDataFrame([(7, 77.0)], ddl), ["id"], ddl)
    assert s5["manifest_used"] is True


def test_merge_into_table_parallel_writers_serialize(spark, tmp_path):
    """FOUR genuinely concurrent writers (threads submitting real Spark
    jobs) race the claim/commit protocol: every writer lands a DISTINCT
    committed version, no update is lost (the final table carries all four
    batches), and the version chain is gap-free — the serializability the
    protocol promises, under an actual race rather than a staged one."""
    import os
    import threading

    from rca_data_tools_spark.sources.sinks import (
        committed_versions, mark_committed, merge_into_table, read_version,
    )

    ddl = "id long, v double"
    root = str(tmp_path / "t")
    spark.createDataFrame([(i, float(i)) for i in range(40)], ddl)\
        .coalesce(1).write.parquet(os.path.join(root, "v0"))
    mark_committed(os.path.join(root, "v0"))

    results, errors = {}, []

    def writer(k: int):
        try:
            src = spark.createDataFrame([(k, 1000.0 + k)], ddl)
            results[k] = merge_into_table(
                spark, root, src, ["id"], ddl, retries=40
            )
        except Exception as e:  # pragma: no cover - surfaced by the assert
            errors.append((k, e))

    threads = [threading.Thread(target=writer, args=(k,)) for k in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    versions = sorted(r["version"] for r in results.values())
    assert versions == [1, 2, 3, 4]  # distinct, gap-free
    assert committed_versions(root) == [0, 1, 2, 3, 4]
    final = {r["id"]: r["v"] for r in read_version(spark, root, ddl).collect()}
    for k in range(4):
        assert final[k] == 1000.0 + k  # no lost update
    assert len(final) == 40


def test_create_table_and_persisted_change_feed(spark, tmp_path):
    """create_table writes a committed, range-clustered v0 WITH its zone-map
    manifest (the first merge prunes metadata-only); merges with
    changes_feed persist per-version _changes/ sidecars that read_changes
    replays in version order, checkpointable via _version — and a version
    without a feed refuses loudly instead of leaving a silent gap."""
    import os

    import pytest as _pytest

    from rca_data_tools_spark.sources.sinks import (
        create_table, merge_into_table, read_changes,
    )
    from rca_data_tools_spark.sources.zonemap import _read_manifest

    ddl = "id long, v double"
    root = str(tmp_path / "t")
    df = spark.createDataFrame([(i, float(i)) for i in range(100)], ddl)
    v0 = create_table(df, root, zone_key="id", n_files=4)
    assert _read_manifest(v0, "id") is not None
    assert os.path.exists(os.path.join(v0, "_commit"))

    s1 = merge_into_table(
        spark, root, spark.createDataFrame([(5, 55.0), (200, 2.0)], ddl),
        ["id"], ddl, changes_feed=True,
    )
    assert s1["manifest_used"] is True  # create_table's manifest pruned merge 1
    merge_into_table(
        spark, root, spark.createDataFrame([(5, 555.0), (300, 3.0)], ddl),
        ["id"], ddl, changes_feed=True,
    )

    feed = read_changes(spark, root, from_v=0)
    rows = {(r["_version"], r["id"]): (r["op"], r["before_v"], r["after_v"])
            for r in feed.collect()}
    assert rows == {
        (1, 5): ("update", 5.0, 55.0),
        (1, 200): ("insert", None, 2.0),
        (2, 5): ("update", 55.0, 555.0),
        (2, 300): ("insert", None, 3.0),
    }
    # checkpointed consumer: only v2's changes
    assert read_changes(spark, root, from_v=1).count() == 2

    # a feedless version in the range refuses loudly
    merge_into_table(spark, root, spark.createDataFrame([(6, 66.0)], ddl), ["id"], ddl)
    with _pytest.raises(ValueError, match="no _changes"):
        read_changes(spark, root, from_v=0)
    with _pytest.raises(ValueError, match="changes_feed models upsert"):
        merge_into_table(spark, root, df.withColumn("_d", F.lit(False)),
                         ["id"], ddl, delete_col="_d", changes_feed=True)


def test_mixed_dml_race_serializes_in_commit_order(spark, tmp_path):
    """SIX writers — merges, deletes, updates — race the claim/commit
    protocol concurrently. Every statement lands a distinct version, and
    the final table equals the sequential replay of the statements IN
    COMMIT ORDER: the serializability contract for the whole DML family,
    not just MERGE."""
    import os
    import threading

    from rca_data_tools_spark.sources.sinks import (
        committed_versions, create_table, delete_into_table, merge_into_table,
        read_version, update_into_table,
    )

    ddl = "id long, v double"
    root = str(tmp_path / "t")
    create_table(
        spark.createDataFrame([(i, float(i)) for i in range(60)], ddl),
        root, zone_key="id", n_files=4,
    )

    landed, errors = {}, []

    def run(tag, fn):
        try:
            landed[tag] = fn()["version"]
        except Exception as e:  # pragma: no cover
            errors.append((tag, e))

    ops = {
        "m1": lambda: merge_into_table(
            spark, root, spark.createDataFrame([(100, 1.0)], ddl), ["id"], ddl,
            retries=60),
        # deliberately NON-commuting: m2 merges a key d1 deletes (survives
        # only if it lands after d1), d2 deletes the stripe u1 updates
        # (update-then-delete removes them; delete-then-update updates
        # nothing), u2 doubles a stripe u1 adds to — every pairwise order
        # changes the final state, so a wrong serialization cannot pass
        "m2": lambda: merge_into_table(
            spark, root, spark.createDataFrame([(13, 777.0)], ddl), ["id"], ddl,
            retries=60),
        "d1": lambda: delete_into_table(spark, root, "id % 10 = 3", ddl, retries=60),
        "d2": lambda: delete_into_table(spark, root, "id % 10 = 5", ddl, retries=60),
        "u1": lambda: update_into_table(
            spark, root, "id % 10 = 5", {"v": "v + 1000"}, ddl, retries=60),
        "u2": lambda: update_into_table(
            spark, root, "id % 5 = 0", {"v": "v * 2"}, ddl, retries=60),
    }
    threads = [threading.Thread(target=run, args=(tag, fn)) for tag, fn in ops.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert sorted(landed.values()) == [1, 2, 3, 4, 5, 6]
    assert committed_versions(root) == list(range(7))

    # replay the statements in COMMIT order against an in-memory model
    model = {i: float(i) for i in range(60)}
    replay = {
        "m1": lambda m: m.update({100: 1.0}),
        "m2": lambda m: m.update({13: 777.0}),
        "d1": lambda m: [m.pop(i) for i in list(m) if i % 10 == 3],
        "d2": lambda m: [m.pop(i) for i in list(m) if i % 10 == 5],
        "u1": lambda m: m.update({i: m[i] + 1000 for i in m if i % 10 == 5}),
        "u2": lambda m: m.update({i: m[i] * 2 for i in m if i % 5 == 0}),
    }
    for tag in sorted(landed, key=landed.get):
        replay[tag](model)
    got = {r["id"]: r["v"] for r in read_version(spark, root, ddl).collect()}
    assert got == model


def test_read_changes_crosses_content_neutral_optimize(spark, tmp_path):
    """OPTIMIZE is content-neutral: its feed is EMPTY, not missing — a
    read_changes range crossing it replays cleanly (Delta table_changes
    semantics); content-changing feedless versions still refuse."""
    import pytest as _pytest

    from rca_data_tools_spark.sources.sinks import (
        create_table, delete_into_table, merge_into_table, optimize_table,
        read_changes,
    )

    ddl = "id long, v double"
    root = str(tmp_path / "t")
    create_table(spark.createDataFrame([(i, float(i)) for i in range(30)], ddl),
                 root, zone_key="id")
    merge_into_table(spark, root, spark.createDataFrame([(1, 10.0)], ddl),
                     ["id"], ddl, changes_feed=True)          # v1
    optimize_table(spark, root, target_bytes=1 << 30)          # v2 (neutral)
    merge_into_table(spark, root, spark.createDataFrame([(2, 20.0)], ddl),
                     ["id"], ddl, changes_feed=True)          # v3

    feed = read_changes(spark, root, from_v=0)  # crosses the OPTIMIZE
    assert {(r["_version"], r["id"]) for r in feed.collect()} == {(1, 1), (3, 2)}
    with _pytest.raises(ValueError, match="content-neutral"):
        read_changes(spark, root, from_v=1, to_v=2)  # only-neutral range

    delete_into_table(spark, root, "id = 5", ddl)              # v4: no feed
    with _pytest.raises(ValueError, match="no _changes"):
        read_changes(spark, root, from_v=0)


def test_footer_stats_string_zone_key_matches_scan(spark, tmp_path):
    """String zone keys must resolve per-file (min, max) from parquet
    footers byte-for-byte like the one-column scan fallback (r12: the
    footer path accepts BYTE_ARRAY/String — before, every merge against a
    string-zoned version without a manifest paid a full scan job)."""
    from rca_data_tools_spark.sources.zonemap import (
        _footer_file_stats, _zone_file_stats,
    )
    import os
    from pyspark.sql import functions as F

    d = str(tmp_path / "t")
    rows = [(f"2024-01-{i:02d}", f"e{i % 3}", i) for i in range(1, 21)]
    rows.append((None, "e9", 99))  # NULLs must not poison the bounds
    spark.createDataFrame(rows, "d string, event_type string, n long") \
        .repartition(3).write.parquet(d)
    paths = sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet")
    )
    footer = _footer_file_stats(paths, ["d"])
    assert footer is not None, "string footer stats must resolve"
    back = spark.read.parquet(d)
    scan = {
        r["__f"]: (r["mn"], r["mx"])
        for r in back.groupBy(F.input_file_name().alias("__f"))
        .agg(F.min("d").alias("mn"), F.max("d").alias("mx"))
        .collect()
    }
    from rca_data_tools_spark.sources.zonemap import _local_path

    scan = {_local_path(k): v for k, v in scan.items()}
    assert {p: footer[p]["d"] for p in paths} == scan
    # the zone-stats entry point takes the footer path (no Spark job needed)
    stats, used = _zone_file_stats(spark, d, "d", "d string, event_type string, n long")
    assert stats == scan and used is False


def test_dynamic_overwrite_leaves_session_conf_alone(spark, tmp_path, monkeypatch):
    """Jobs that share a session must not race on its overwrite mode: the
    dynamic mode rides on the writer, the session conf is never set."""
    from pyspark.sql.conf import RuntimeConfig

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    sets = []
    real_set = RuntimeConfig.set
    monkeypatch.setattr(RuntimeConfig, "set", lambda self, k, v: (sets.append(k), real_set(self, k, v)))
    out = str(tmp_path / "part_out")
    write_partitioned(spark.createDataFrame([(1, "a"), (2, "b")], "id int, site string"), out, ["site"])
    write_partitioned(spark.createDataFrame([(3, "a")], "id int, site string"), out, ["site"])
    assert key not in sets
    assert spark.conf.get(key) == before
    assert {(r.site, r.id) for r in spark.read.parquet(out).collect()} == {("a", 3), ("b", 2)}
