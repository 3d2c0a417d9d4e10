"""RESTORE / shallow CLONE / full-fidelity DML change feed / CHECK
constraints on the copy-on-write version chain, plus the compact-vs-chain
guard. Complements tests/test_sinks.py's merge/DV/concurrency coverage."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rca_data_tools_spark.sources.sinks import (
    clone_table,
    committed_versions,
    compact_partitioned,
    create_table,
    delete_into_table,
    merge_into_table,
    read_changes,
    read_version,
    restore_table,
    update_into_table,
    vacuum_versions,
)

DDL = "k bigint, grp string, val double"


def _base(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("g"), (F.col("id") % 5).cast("string")).alias("grp"),
        (F.col("id") * 1.5).alias("val"),
    )


def _rows(df):
    return sorted((r["k"], r["grp"], r["val"]) for r in df.collect())


def test_restore_rolls_back_as_new_version(spark, tmp_path):
    root = str(tmp_path / "t")
    create_table(_base(spark), root, zone_key="k")
    batch = spark.range(50).select(
        F.col("id").alias("k"), F.lit("gX").alias("grp"), F.lit(0.0).alias("val")
    )
    merge_into_table(spark, root, batch, ["k"], DDL, zone_key="k")
    delete_into_table(spark, root, "k >= 150", DDL)
    assert committed_versions(root) == [0, 1, 2]

    st = restore_table(root, 0)
    assert st["version"] == 3 and st["restored_from"] == 0
    # the restored tip equals v0 exactly
    assert _rows(read_version(spark, root, DDL)) == _rows(_base(spark))
    # history is untouched: v2 still shows the merge + delete
    v2 = read_version(spark, root, DDL, n=2)
    assert v2.count() == 150
    assert v2.filter(F.col("grp") == "gX").count() == 50


def test_restore_carries_deletion_vectors(spark, tmp_path):
    root = str(tmp_path / "t")
    create_table(_base(spark), root, zone_key="k")
    delete_into_table(spark, root, "k % 2 = 0", DDL)  # v1: DV, no rewrite
    batch = spark.range(10).select(
        F.col("id").alias("k"), F.lit("gY").alias("grp"), F.lit(9.0).alias("val")
    )
    merge_into_table(spark, root, batch, ["k"], DDL, zone_key="k")  # v2

    restore_table(root, 1)  # v3 == v1 (a DV-bearing snapshot)
    tip = read_version(spark, root, DDL)
    assert tip.count() == 100
    assert tip.filter(F.col("k") % 2 == 0).count() == 0  # vectors applied


def test_restore_refuses_unknown_version(spark, tmp_path):
    root = str(tmp_path / "t")
    create_table(_base(spark), root)
    with pytest.raises(ValueError, match="not a committed version"):
        restore_table(root, 7)


def test_clone_is_zero_copy_and_survives_source_vacuum(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    create_table(_base(spark), src, zone_key="k")
    delete_into_table(spark, src, "k < 20", DDL)  # v1 carries a DV sidecar

    v0 = clone_table(src, dst)
    assert v0.endswith("v0")
    # zero data copied: every cloned data file shares its inode with src
    src_inodes = {
        os.stat(os.path.join(src, "v1", f)).st_ino
        for f in os.listdir(os.path.join(src, "v1"))
        if f.endswith(".parquet")
    }
    dst_inodes = {
        os.stat(os.path.join(dst, "v0", f)).st_ino
        for f in os.listdir(os.path.join(dst, "v0"))
        if f.endswith(".parquet")
    }
    assert dst_inodes == src_inodes

    # the clone evolves independently of the source
    delete_into_table(spark, dst, "k >= 100", DDL)
    assert read_version(spark, dst, DDL).count() == 80  # 20..99
    assert read_version(spark, src, DDL).count() == 180  # untouched

    # vacuuming the source to one version cannot dangle the clone
    removed = vacuum_versions(src, keep_last=1)
    assert removed["removed"] == ["v0"]
    assert read_version(spark, dst, DDL).count() == 80
    assert read_version(spark, dst, DDL, n=0).count() == 180


def test_clone_refuses_nonempty_dest(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    create_table(_base(spark), src)
    os.makedirs(dst)
    open(os.path.join(dst, "junk"), "w").close()
    with pytest.raises(FileExistsError):
        clone_table(src, dst)


def test_full_fidelity_change_feed_across_all_dml(spark, tmp_path):
    root = str(tmp_path / "t")
    create_table(_base(spark, 100), root, zone_key="k")
    batch = spark.range(90, 110).select(
        F.col("id").alias("k"), F.lit("gN").alias("grp"), F.lit(7.0).alias("val")
    )
    merge_into_table(spark, root, batch, ["k"], DDL, zone_key="k",
                     changes_feed=True)                              # v1
    delete_into_table(spark, root, "k < 10", DDL,
                      changes_feed_keys=["k"])                       # v2
    update_into_table(spark, root, "grp = 'gN'", {"val": "val + 1"},
                      DDL, changes_feed_keys=["k"])                  # v3

    feed = read_changes(spark, root, 0, 3)
    by = {
        (r["_version"], r["op"]): r["n"]
        for r in feed.groupBy("_version", "op").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by[(1, "update")] == 10   # keys 90..99 existed
    assert by[(1, "insert")] == 10   # keys 100..109 were new
    assert by[(2, "delete")] == 10   # keys 0..9
    assert by[(3, "update")] == 20   # every gN row
    deletes = feed.filter(F.col("op") == "delete")
    assert deletes.filter(F.col("after_val").isNotNull()).count() == 0
    assert deletes.filter(F.col("before_val").isNull()).count() == 0
    upd = feed.filter((F.col("_version") == 3) & (F.col("op") == "update"))
    assert upd.filter(F.col("after_val") != F.col("before_val") + 1).count() == 0


def test_delete_feed_skips_already_deleted_rows(spark, tmp_path):
    root = str(tmp_path / "t")
    create_table(_base(spark, 50), root, zone_key="k")
    delete_into_table(spark, root, "k < 30", DDL, changes_feed_keys=["k"])  # v1
    # overlapping predicate: rows < 30 are already gone and must not emit
    # a second delete event
    delete_into_table(spark, root, "k < 40", DDL, changes_feed_keys=["k"])  # v2
    feed = read_changes(spark, root, 0, 2)
    n = {r["_version"]: r["n"] for r in
         feed.groupBy("_version").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert n == {1: 30, 2: 10}


def test_merge_constraints_fail_in_plan_and_release_claim(spark, tmp_path):
    root = str(tmp_path / "t")
    create_table(_base(spark), root, zone_key="k")
    bad = spark.range(5).select(
        F.col("id").alias("k"), F.lit("gZ").alias("grp"),
        (F.lit(50.0) - F.col("id") * 100).alias("val"),  # negatives
    )
    with pytest.raises(Exception, match="constraint violated.*val_nonneg"):
        merge_into_table(
            spark, root, bad, ["k"], DDL, zone_key="k",
            constraints={"val_nonneg": "val >= 0", "grp_known": "grp LIKE 'g%'"},
        )
    # the failed claim was released: the chain is not wedged and the next
    # good merge lands v1 on the first attempt
    assert committed_versions(root) == [0]
    good = spark.range(5).select(
        F.col("id").alias("k"), F.lit("gZ").alias("grp"), F.lit(1.0).alias("val")
    )
    st = merge_into_table(
        spark, root, good, ["k"], DDL, zone_key="k",
        constraints={"val_nonneg": "val >= 0"},
    )
    assert st["version"] == 1 and st["attempts"] == 1


def test_compact_refuses_committed_chain_version(spark, tmp_path):
    root = str(tmp_path / "t")
    v0 = create_table(_base(spark), root)
    with pytest.raises(ValueError, match="optimize_table"):
        compact_partitioned(spark, v0)


def test_vacuum_counts_sidecar_bytes(spark, tmp_path):
    root = str(tmp_path / "t")
    create_table(_base(spark), root)
    delete_into_table(spark, root, "k < 100", DDL)   # v1: hardlinks + DV
    delete_into_table(spark, root, "k < 150", DDL)   # v2: hardlinks + DV
    # removing v0+v1 frees v1's sidecar parquet (only link) even though all
    # data files survive via v2's hardlinks
    st = vacuum_versions(root, keep_last=1)
    assert st["removed"] == ["v0", "v1"]
    assert st["bytes_freed"] > 0
    assert read_version(spark, root, DDL).count() == 50


def test_optimize_zorder_clusters_through_deletes(spark, tmp_path):
    """OPTIMIZE ZORDER as a chain DML: the rewrite must (a) subtract the
    base's deletion vectors and clear the sidecar, (b) leave every output
    file's footer min/max tight on BOTH clustering columns, (c) land as a
    new committed version with old history intact."""
    import pyarrow.parquet as pq

    from rca_data_tools_spark.sources.sinks import (
        has_deletes, optimize_table,
    )

    src = spark.range(20000).select(
        F.col("id").alias("k"),
        (F.col("id") % 977).alias("grp2"),
        (F.col("id") * 1.0).alias("val"),
    )
    root = str(tmp_path / "t")
    v0 = os.path.join(root, "v0")
    os.makedirs(root)
    # scattered layout: round-robin over both dims
    src.withColumn("grp", F.col("grp2").cast("string")).select(
        "k", "grp2", "val"
    ).repartition(8).write.parquet(v0)
    from rca_data_tools_spark.sources.sinks import mark_committed
    mark_committed(v0)
    delete_into_table(spark, root, "k % 10 = 0", "k bigint, grp2 bigint, val double")

    st = optimize_table(spark, root, target_bytes=1 << 15,
                        zorder_cols=["k", "grp2"])
    vdir = os.path.join(root, f"v{st['version']}")
    assert not has_deletes(vdir)  # vectors materialized + cleared
    back = spark.read.parquet(vdir)
    assert back.count() == 18000
    assert back.filter(F.col("k") % 10 == 0).count() == 0

    # footer tightness on both dims vs the global ranges
    spans = []
    for f in os.listdir(vdir):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(vdir, f)).metadata
        kmin = kmax = gmin = gmax = None
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            for ci in range(row.num_columns):
                c = row.column(ci)
                if c.statistics is None:
                    continue
                if c.path_in_schema == "k":
                    kmin = c.statistics.min if kmin is None else min(kmin, c.statistics.min)
                    kmax = c.statistics.max if kmax is None else max(kmax, c.statistics.max)
                if c.path_in_schema == "grp2":
                    gmin = c.statistics.min if gmin is None else min(gmin, c.statistics.min)
                    gmax = c.statistics.max if gmax is None else max(gmax, c.statistics.max)
        if kmin is not None:
            spans.append(((kmax - kmin) / 20000, (gmax - gmin) / 977))
    assert len(spans) >= 3
    mean_k = sum(s[0] for s in spans) / len(spans)
    mean_g = sum(s[1] for s in spans) / len(spans)
    assert mean_k <= 0.6 and mean_g <= 0.6, (mean_k, mean_g)
    # history: v1's DV-subtracted read still works
    assert read_version(spark, root, "k bigint, grp2 bigint, val double", n=1).count() == 18000


def test_persisted_constraints_govern_every_write(spark, tmp_path):
    """CHECK constraints persisted at create_table (table metadata, the
    Delta shape) must be enforced on the INITIAL write, every MERGE's
    source, every UPDATE's new images — and must follow a shallow CLONE."""
    root = str(tmp_path / "t")
    rules = {"val_nonneg": "val >= 0"}

    # initial data is checked
    bad0 = spark.createDataFrame([(1, "g", -1.0)], DDL)
    with pytest.raises(Exception, match="val_nonneg"):
        create_table(bad0, str(tmp_path / "bad"), constraints=rules)

    create_table(_base(spark), root, zone_key="k", constraints=rules)

    # merge: no explicit constraints passed — the persisted ones apply
    bad = spark.createDataFrame([(5, "g", -3.0)], DDL)
    with pytest.raises(Exception, match="val_nonneg"):
        merge_into_table(spark, root, bad, ["k"], DDL, zone_key="k")
    good = spark.createDataFrame([(5, "g", 3.0)], DDL)
    st = merge_into_table(spark, root, good, ["k"], DDL, zone_key="k")
    assert st["version"] == 1

    # update: the NEW images are checked
    with pytest.raises(Exception, match="val_nonneg"):
        update_into_table(spark, root, "k = 5", {"val": "val - 100"}, DDL)
    update_into_table(spark, root, "k = 5", {"val": "val + 100"}, DDL)
    assert read_version(spark, root, DDL).filter(
        F.col("k") == 5
    ).collect()[0]["val"] == 103.0

    # a clone inherits the table's contract
    dst = str(tmp_path / "clone")
    clone_table(root, dst)
    with pytest.raises(Exception, match="val_nonneg"):
        merge_into_table(spark, dst, bad, ["k"], DDL, zone_key="k")


def test_mark_committed_repub_preserves_history_entry(spark, tmp_path):
    """ADVICE r09: an info-less re-publish of an already-committed version
    (the documented idempotent path used by caller-built chains) must NOT
    blank the recorded op — DESCRIBE HISTORY keeps its commit-log entry."""
    import json

    from rca_data_tools_spark.sources.sinks import (
        COMMIT_NAME, mark_committed, table_history,
    )

    root = str(tmp_path / "t")
    create_table(_base(spark), root, zone_key="k")
    v0 = os.path.join(root, "v0")
    before = open(os.path.join(v0, COMMIT_NAME)).read()
    assert json.loads(before)["op"] == "create"

    mark_committed(v0)  # idempotent re-publish, info=None
    assert open(os.path.join(v0, COMMIT_NAME)).read() == before
    ops = {r["version"]: r["op"] for r in table_history(spark, root).collect()}
    assert ops[0] == "create"

    # a marker-less dir still gets an (empty, valid) marker
    bare = os.path.join(root, "v1")
    os.makedirs(bare)
    mark_committed(bare)
    assert os.path.exists(os.path.join(bare, COMMIT_NAME))
    assert open(os.path.join(bare, COMMIT_NAME)).read() == ""


def test_clone_metadata_is_independent_of_source(spark, tmp_path):
    """ADVICE r09 (updated for r11's versioned metadata): the clone carries
    its OWN copy of the cloned version's metadata doc — an ALTER on either
    table must never leak onto the other (with hardlinked/shared docs a
    constraint change would alias across tables)."""
    from rca_data_tools_spark.sources.sinks import (
        alter_table_constraints, table_constraints,
    )

    src = str(tmp_path / "src")
    create_table(_base(spark), src, zone_key="k",
                 constraints={"val_nonneg": "val >= 0"})
    dest = str(tmp_path / "clone")
    clone_table(src, dest)
    assert table_constraints(dest) == {"val_nonneg": "val >= 0"}

    # a constraint change on the CLONE leaves the source untouched...
    alter_table_constraints(
        spark, dest, add={"val_cap": "val < 1e9"},
        drop=["val_nonneg"], schema_ddl=DDL,
    )
    assert table_constraints(dest) == {"val_cap": "val < 1e9"}
    assert table_constraints(src) == {"val_nonneg": "val >= 0"}
    # ...and vice versa
    alter_table_constraints(spark, src, drop=["val_nonneg"], schema_ddl=DDL)
    assert table_constraints(src) == {}
    assert table_constraints(dest) == {"val_cap": "val < 1e9"}


def test_restore_change_feed_crosses_rollback(spark, tmp_path):
    """VERDICT r09 item 3: a RESTORE run with changes_feed_keys persists its
    EFFECTIVE change set (keyed diff of restored snapshot vs prior tip), so
    read_changes ranges cross the rollback and replay_changes keeps a
    downstream replica equal to the table — no stranded consumers."""
    from rca_data_tools_spark.sources.sinks import read_changes, replay_changes

    root = str(tmp_path / "t")
    create_table(_base(spark), root, zone_key="k")
    batch = spark.range(50).select(
        F.col("id").alias("k"), F.lit("gX").alias("grp"), F.lit(0.0).alias("val")
    )
    merge_into_table(spark, root, batch, ["k"], DDL, zone_key="k",
                     changes_feed=True)
    delete_into_table(spark, root, "k >= 150", DDL, changes_feed_keys=["k"])
    st = restore_table(root, 0, spark=spark, changes_feed_keys=["k"],
                       schema_ddl=DDL)
    assert st["version"] == 3

    # the restore version's own feed: deleted keys come back as inserts,
    # merged keys revert as updates, untouched keys emit nothing
    v3_feed = read_changes(spark, root, 2, 3)
    ops = {r["op"]: r["cnt"] for r in
           v3_feed.groupBy("op").agg(F.count("*").alias("cnt")).collect()}
    assert ops == {"insert": 50, "update": 50}

    # a range CROSSING the restore replays to the table's actual tip
    base = read_version(spark, root, DDL, n=0)
    replica = replay_changes(base, read_changes(spark, root, 0, 3), ["k"])
    assert _rows(replica) == _rows(read_version(spark, root, DDL))
    assert _rows(replica) == _rows(_base(spark))


def test_restore_feed_empty_diff_marks_content_neutral(spark, tmp_path):
    """Restoring to the current tip is a no-op diff: the restore version
    contributes ZERO feed rows, and read_changes ranges cross it cleanly —
    either via a schema-bearing empty sidecar or the _changes_empty
    content-neutral marker (whichever the writer produced)."""
    from rca_data_tools_spark.sources.sinks import (
        CHANGES_EMPTY_NAME, CHANGES_NAME, read_changes,
    )

    root = str(tmp_path / "t")
    create_table(_base(spark), root, zone_key="k")
    batch = spark.range(10).select(
        F.col("id").alias("k"), F.lit("gX").alias("grp"), F.lit(0.0).alias("val")
    )
    merge_into_table(spark, root, batch, ["k"], DDL, zone_key="k",
                     changes_feed=True)
    restore_table(root, 1, spark=spark, changes_feed_keys=["k"], schema_ddl=DDL)
    assert os.path.exists(os.path.join(root, "v2", CHANGES_EMPTY_NAME)) or \
        os.path.isdir(os.path.join(root, "v2", CHANGES_NAME))
    feed = read_changes(spark, root, 0, 2)  # crosses the neutral restore
    assert feed.filter(F.col("_version") == 2).count() == 0
    assert feed.count() == 10


def test_restore_feed_prunes_shared_files(spark, tmp_path):
    """The snapshot diff scans only files the two snapshots do NOT share by
    inode (when the DV sidecars are inode-identical). A merge that touched
    a narrow key range leaves most files hardlink-shared, so the restore's
    diff must read a strict subset of the table's files."""
    from rca_data_tools_spark.sources.sinks import _snapshot_diff_feed

    root = str(tmp_path / "t")
    create_table(_base(spark, 400), root, zone_key="k", n_files=8)
    batch = spark.range(10).select(
        F.col("id").alias("k"), F.lit("gX").alias("grp"), F.lit(0.0).alias("val")
    )
    merge_into_table(spark, root, batch, ["k"], DDL, zone_key="k",
                     changes_feed=True)

    feed = _snapshot_diff_feed(
        spark, os.path.join(root, "v1"), os.path.join(root, "v0"), ["k"], DDL
    )
    # correctness: exactly the 10 merged keys revert
    assert feed.count() == 10
    assert feed.select("op").distinct().collect()[0]["op"] == "update"
    # prune: the plan reads fewer files than 2x the full table (the merge
    # rewrote 1-2 of 8 files; everything else is inode-shared and skipped)
    scanned = [
        f for f in feed.inputFiles()
    ]
    v0_files = [f for f in os.listdir(os.path.join(root, "v0"))
                if f.endswith(".parquet")]
    v1_files = [f for f in os.listdir(os.path.join(root, "v1"))
                if f.endswith(".parquet")]
    assert len(scanned) < len(v0_files) + len(v1_files)


def test_zorder_manifest_carries_both_dimensions(spark, tmp_path):
    """VERDICT r09 item 5: OPTIMIZE ZORDER(a, b) persists BOTH clustering
    dimensions in the manifest (primary zone map + per-column secondary
    maps), a pruned MERGE keyed on the SECOND dimension resolves
    candidates from metadata (manifest_used, strictly fewer candidates),
    and point_lookup prunes via the manifest with no bloom index. The
    secondary maps follow the merge into the next version."""
    import json

    from rca_data_tools_spark.sources.bloom_index import point_lookup
    from rca_data_tools_spark.sources.sinks import (
        merge_into_table, optimize_table,
    )
    from rca_data_tools_spark.sources.zonemap import (
        MANIFEST_NAME, manifest_candidate_files,
    )

    ddl = "k bigint, grp string, val double"
    root = str(tmp_path / "t")
    create_table(_base(spark, 2000), root, zone_key="k", n_files=8)
    st = optimize_table(spark, root, target_bytes=1 << 12,
                        zorder_cols=["k", "val"])
    vdir = os.path.join(root, f"v{st['version']}")
    doc = json.loads(open(os.path.join(vdir, MANIFEST_NAME)).read())
    assert doc["zone_key"] == "k"
    assert "val" in doc.get("columns", {})
    data_files = {f for f in os.listdir(vdir) if f.endswith(".parquet")}
    assert set(doc["columns"]["val"]) == data_files
    assert len(data_files) >= 4

    # metadata pruning on the SECOND dimension: a narrow val range must
    # rule out at least one file without any footer read
    cands = manifest_candidate_files(vdir, "val", [0.0])
    assert cands is not None and 0 < len(cands) < len(data_files)

    # pruned MERGE keyed on val (unique: val = k * 1.5) uses the secondary
    # map — metadata-only candidate selection, strictly pruned
    src = spark.range(40).select(
        (F.col("id") * 1.5).alias("val2")
    ).select(
        F.col("val2").alias("val"),
    ).join(_base(spark, 2000).select("k", "grp", "val"), "val").select(
        "k", F.lit("gU").alias("grp"), "val"
    )
    mst = merge_into_table(spark, root, src, ["val"], ddl, zone_key="val")
    assert mst["manifest_used"] is True
    assert mst["files_candidates"] < mst["files_total"]

    # the merged version carries a manifest keyed on val with k as a
    # secondary map; point_lookup on k prunes without a bloom index
    v2 = os.path.join(root, f"v{mst['version']}")
    doc2 = json.loads(open(os.path.join(v2, MANIFEST_NAME)).read())
    assert doc2["zone_key"] == "val" and "k" in doc2.get("columns", {})
    rows, lst = point_lookup(spark, v2, "k", [7], schema_ddl=ddl)
    assert lst["files_scanned"] < lst["files_total"]
    got = rows.collect()
    assert len(got) == 1 and got[0]["k"] == 7 and got[0]["grp"] == "gU"


def test_alter_constraints_is_a_logged_commit_with_validation(spark, tmp_path):
    """ALTER ADD validates existing data before making the promise (a
    violating table refuses, claim released, metadata untouched); DROP of
    an unknown rule refuses; a duplicate ADD refuses; successful alters
    land as content-neutral versions with their op in DESCRIBE HISTORY
    and read_changes ranges cross them."""
    from rca_data_tools_spark.sources.sinks import (
        alter_table_constraints, merge_into_table, read_changes,
        table_constraints, table_history,
    )

    root = str(tmp_path / "t")
    create_table(_base(spark), root, zone_key="k",
                 constraints={"val_nonneg": "val >= 0"})
    merge_into_table(
        spark, root,
        spark.range(5).select(F.col("id").alias("k"), F.lit("gZ").alias("grp"),
                              F.lit(2.0).alias("val")),
        ["k"], DDL, zone_key="k", changes_feed=True)                   # v1

    st = alter_table_constraints(spark, root, add={"val_cap": "val < 1e6"},
                                 schema_ddl=DDL)                       # v2
    assert st["version"] == 2 and st["added"] == ["val_cap"]
    assert table_constraints(root) == {"val_nonneg": "val >= 0",
                                       "val_cap": "val < 1e6"}
    ops = [r["op"] for r in table_history(spark, root).orderBy("version").collect()]
    assert ops == ["create", "merge", "alter_constraints"]
    # content-neutral: a CDF range crossing the alter replays cleanly
    assert read_changes(spark, root, 0, 2).count() == 5

    # existing data violates this one: refuse, release, metadata untouched
    with pytest.raises(ValueError, match="existing data violates"):
        alter_table_constraints(spark, root, add={"val_tiny": "val < 1"},
                                schema_ddl=DDL)
    assert not os.path.exists(os.path.join(root, "v3"))
    assert "val_tiny" not in table_constraints(root)

    with pytest.raises(ValueError, match="unknown"):
        alter_table_constraints(spark, root, drop=["nope"])
    with pytest.raises(ValueError, match="already exist"):
        alter_table_constraints(spark, root, add={"val_cap": "val < 10"},
                                schema_ddl=DDL)

    # the new constraint actually governs writes until dropped
    bad = spark.range(1).select(F.col("k") if False else F.lit(999).alias("k"),
                                F.lit("gB").alias("grp"), F.lit(2e6).alias("val"))
    with pytest.raises(Exception, match="val_cap"):
        merge_into_table(spark, root, bad, ["k"], DDL, zone_key="k")
    alter_table_constraints(spark, root, drop=["val_cap"])             # v3
    merge_into_table(spark, root, bad, ["k"], DDL, zone_key="k")       # v4
    assert table_constraints(root) == {"val_nonneg": "val >= 0"}
