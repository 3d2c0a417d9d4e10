"""Column mapping (rename without rewrite): alter_table_rename_column /
read_version_logical / merge_table_logical — zero-copy renames as chain
commits, logical-name DML translation, refusals, clone independence."""

from __future__ import annotations

import os
import tempfile

import pytest

from rca_data_tools_spark.sources.sinks import (
    alter_table_rename_column,
    column_mapping,
    committed_versions,
    create_table,
    merge_table_logical,
    read_version,
    read_version_logical,
    table_history,
)

DDL = "k long, u long, v double"


def _mk(spark, constraints=None):
    root = os.path.join(tempfile.mkdtemp(prefix="cm_"), "t")
    os.makedirs(root)
    df = spark.createDataFrame(
        [(i, i % 7, float(i)) for i in range(200)], DDL
    )
    create_table(df, root, zone_key="k", n_files=4, constraints=constraints)
    return root, df


def _inodes(d):
    return {
        f: os.stat(os.path.join(d, f)).st_ino
        for f in os.listdir(d) if f.endswith(".parquet")
    }


def test_rename_is_zero_copy_and_logical_read(spark):
    root, df = _mk(spark)
    stats = alter_table_rename_column(root, {"v": "reading"}, DDL)
    assert stats["version"] == 1
    # zero bytes moved: every data file of v1 is the v0 inode
    assert _inodes(os.path.join(root, "v1")) == _inodes(os.path.join(root, "v0"))
    assert column_mapping(root) == {"reading": "v"}
    log = read_version_logical(spark, root, DDL)
    assert log.columns == ["k", "u", "reading"]
    assert sorted(map(tuple, log.collect())) == sorted(map(tuple, df.collect()))
    # physical read (time travel to v0) is untouched
    assert read_version(spark, root, DDL, n=0).columns == ["k", "u", "v"]
    ops = [r["op"] for r in table_history(spark, root).collect()]
    assert ops == ["create", "rename_column"]


def test_rename_chains_compose(spark):
    root, _ = _mk(spark)
    alter_table_rename_column(root, {"v": "reading"}, DDL)
    alter_table_rename_column(root, {"reading": "measurement"}, DDL)
    assert column_mapping(root) == {"measurement": "v"}
    assert read_version_logical(spark, root, DDL).columns == [
        "k", "u", "measurement",
    ]


def test_rename_refusals_release_claim(spark):
    root, _ = _mk(spark)
    tip = committed_versions(root)[-1]
    with pytest.raises(ValueError, match="not a current logical column"):
        alter_table_rename_column(root, {"nope": "x"}, DDL)
    with pytest.raises(ValueError, match="collides"):
        alter_table_rename_column(root, {"v": "u"}, DDL)
    with pytest.raises(ValueError, match="itself"):
        alter_table_rename_column(root, {"v": "v"}, DDL)
    assert committed_versions(root)[-1] == tip
    assert column_mapping(root) == {}
    # a renamed-away physical name is no longer a logical column
    alter_table_rename_column(root, {"v": "reading"}, DDL)
    with pytest.raises(ValueError, match="not a current logical column"):
        alter_table_rename_column(root, {"v": "volt"}, DDL)


def test_merge_logical_translates_and_refuses_physical(spark):
    root, df = _mk(spark)
    alter_table_rename_column(root, {"v": "reading", "u": "device"}, DDL)
    src = spark.createDataFrame(
        [(5, 99, 555.0), (9001, 9, 1.0)], "k long, device long, reading double"
    )
    merge_table_logical(spark, root, src, ["k"], DDL, zone_key="k")
    got = {r["k"]: (r["device"], r["reading"])
           for r in read_version_logical(spark, root, DDL).collect()}
    assert got[5] == (99, 555.0) and got[9001] == (9, 1.0)
    assert got[6] == (6 % 7, 6.0)  # untouched row intact
    # the physical name is refused once its logical identity moved
    bad = spark.createDataFrame([(1, 1, 1.0)], DDL)  # carries 'v', 'u'
    with pytest.raises(ValueError, match="renamed-away"):
        merge_table_logical(spark, root, bad, ["k"], DDL)


def test_constraints_survive_rename(spark):
    root, _ = _mk(spark, constraints={"v_nonneg": "v >= 0"})
    alter_table_rename_column(root, {"v": "reading"}, DDL)
    src = spark.createDataFrame(
        [(3, 1, -5.0)], "k long, u long, reading double"
    )
    # the constraint is written on PHYSICAL names and the logical merge
    # translates before the check: the violation is still caught
    with pytest.raises(Exception, match="constraint violated"):
        merge_table_logical(spark, root, src, ["k"], DDL, zone_key="k")


def test_clone_mapping_independent(spark):
    from rca_data_tools_spark.sources.sinks import clone_table

    root, _ = _mk(spark)
    clone = os.path.join(tempfile.mkdtemp(prefix="cm_clone_"), "c")
    clone_table(root, clone)
    alter_table_rename_column(root, {"v": "reading"}, DDL)
    assert column_mapping(root) == {"reading": "v"}
    assert column_mapping(clone) == {}  # metadata copied, never aliased


def test_drop_column_zero_copy_and_logical_views(spark):
    from rca_data_tools_spark.sources.sinks import (
        alter_table_drop_column, dropped_columns,
    )

    root, df = _mk(spark)
    stats = alter_table_drop_column(root, ["u"], DDL)
    assert stats["version"] == 1 and stats["dropped"] == ["u"]
    # zero-copy: the drop version shares every inode with its predecessor
    assert _inodes(os.path.join(root, "v1")) == _inodes(os.path.join(root, "v0"))
    assert dropped_columns(root) == ["u"]
    log = read_version_logical(spark, root, DDL)
    assert log.columns == ["k", "v"]
    # time travel to v0 under physical names still shows the column
    assert read_version(spark, root, DDL, n=0).columns == ["k", "u", "v"]
    ops = [r["op"] for r in table_history(spark, root).collect()]
    assert ops == ["create", "drop_column"]


def test_drop_column_refusals(spark):
    from rca_data_tools_spark.sources.sinks import alter_table_drop_column

    root, _ = _mk(spark, constraints={"v_nonneg": "v >= 0"})
    tip = committed_versions(root)[-1]
    with pytest.raises(ValueError, match="zone-map key"):
        alter_table_drop_column(root, ["k"], DDL)
    with pytest.raises(ValueError, match="CHECK"):
        alter_table_drop_column(root, ["v"], DDL)
    with pytest.raises(ValueError, match="not a current logical column"):
        alter_table_drop_column(root, ["ghost"], DDL)
    assert committed_versions(root)[-1] == tip


def test_drop_column_keeps_the_table_metadata(spark):
    """The drop version's metadata is its predecessor's plus the drop: the
    table's CHECK constraints stay in force."""
    from rca_data_tools_spark.sources.sinks import (
        alter_table_drop_column, dropped_columns, table_constraints,
    )

    root, _ = _mk(spark, constraints={"v_nonneg": "v >= 0"})
    alter_table_drop_column(root, ["u"], DDL)
    assert dropped_columns(root) == ["u"]
    assert table_constraints(root) == {"v_nonneg": "v >= 0"}


def test_drop_column_merge_null_fills_dead_slot(spark):
    from rca_data_tools_spark.sources.sinks import alter_table_drop_column

    root, df = _mk(spark)
    alter_table_drop_column(root, ["u"], DDL)
    src = spark.createDataFrame([(5, 555.0), (9001, 1.0)], "k long, v double")
    merge_table_logical(spark, root, src, ["k"], DDL, zone_key="k")
    log = read_version_logical(spark, root, DDL)
    got = {r["k"]: r["v"] for r in log.collect()}
    assert got[5] == 555.0 and got[9001] == 1.0 and got[6] == 6.0
    assert log.columns == ["k", "v"]
    # the rewritten rows carry NULL in the dead physical slot, the carried
    # rows keep their old bytes — both invisible logically
    phys = read_version(spark, root, DDL)
    assert phys.filter("k = 5").collect()[0]["u"] is None
    # a source still carrying the dropped column refuses
    bad = spark.createDataFrame([(1, 1, 1.0)], DDL)
    with pytest.raises(ValueError, match="dropped columns"):
        merge_table_logical(spark, root, bad, ["k"], DDL)


def test_drop_after_rename_spends_mapping(spark):
    from rca_data_tools_spark.sources.sinks import (
        alter_table_drop_column, dropped_columns,
    )

    root, _ = _mk(spark)
    alter_table_rename_column(root, {"u": "device"}, DDL)
    alter_table_drop_column(root, ["device"], DDL)
    assert dropped_columns(root) == ["u"]
    assert column_mapping(root) == {}
    assert read_version_logical(spark, root, DDL).columns == ["k", "v"]


def test_metadata_is_versioned_time_travel_shows_old_names(spark):
    """VERDICT r10 item 4 done criterion: rename at v5 — a logical read of
    v4 (or any earlier version) resolves the version's OWN metadata and
    shows the OLD name; the tip shows the new one."""
    from rca_data_tools_spark.sources.sinks import merge_into_table

    root, df = _mk(spark)
    src = spark.createDataFrame([(1, 50, 111.0)], DDL)
    # grow the chain to v4 with plain DML (no metadata changes)
    for i in range(4):
        merge_into_table(
            spark, root,
            spark.createDataFrame([(i, 50, float(100 + i))], DDL),
            ["k"], DDL, zone_key="k",
        )
    assert committed_versions(root) == [0, 1, 2, 3, 4]
    stats = alter_table_rename_column(root, {"v": "reading"}, DDL)
    assert stats["version"] == 5
    # v4 (pre-rename) still reads under the OLD logical name
    assert read_version_logical(spark, root, DDL, n=4).columns == ["k", "u", "v"]
    assert read_version_logical(spark, root, DDL, n=0).columns == ["k", "u", "v"]
    # the tip (and v5) read under the NEW name
    assert read_version_logical(spark, root, DDL).columns == ["k", "u", "reading"]
    assert read_version_logical(spark, root, DDL, n=5).columns == ["k", "u", "reading"]
    # per-version accessors agree
    assert column_mapping(root, n=4) == {}
    assert column_mapping(root, n=5) == {"reading": "v"}


def test_constraints_are_versioned(spark):
    from rca_data_tools_spark.sources.sinks import (
        alter_table_constraints, table_constraints,
    )

    root, _ = _mk(spark, constraints={"v_nonneg": "v >= 0"})
    alter_table_constraints(spark, root, drop=["v_nonneg"], schema_ddl=DDL)
    alter_table_constraints(
        spark, root, add={"v_cap": "v < 1e9"}, schema_ddl=DDL
    )
    assert table_constraints(root, n=0) == {"v_nonneg": "v >= 0"}
    assert table_constraints(root, n=1) == {}
    assert table_constraints(root) == {"v_cap": "v < 1e9"}


def test_restore_rolls_metadata_back(spark):
    """Delta RESTORE semantics: rolling back across a rename restores the
    OLD logical schema along with the data."""
    from rca_data_tools_spark.sources.sinks import restore_table

    root, df = _mk(spark)
    alter_table_rename_column(root, {"v": "reading"}, DDL)       # v1
    out = restore_table(root, 0)                                  # v2
    assert out["version"] == 2
    assert read_version_logical(spark, root, DDL).columns == ["k", "u", "v"]
    assert column_mapping(root) == {}
    # the rename version itself still time-travels under its own mapping
    assert read_version_logical(spark, root, DDL, n=1).columns == [
        "k", "u", "reading",
    ]


def test_rename_of_dropped_column_refused(spark):
    """ADVICE r10: a DROPPED column is not renameable — resurrecting the
    dead physical slot under a new logical name would let a later logical
    merge silently NULL-fill the caller's data into it."""
    from rca_data_tools_spark.sources.sinks import alter_table_drop_column

    root, _ = _mk(spark)
    alter_table_drop_column(root, ["u"], DDL)
    with pytest.raises(ValueError, match="not a current logical column"):
        alter_table_rename_column(root, {"u": "u2"}, DDL)
    # the refusal released the claim: the next metadata op lands
    stats = alter_table_rename_column(root, {"v": "reading"}, DDL)
    assert stats["version"] == 2


def test_clone_carries_version_metadata(spark):
    """A clone of a post-rename version starts life under the renamed
    logical schema — and evolves it independently of the source."""
    import tempfile as _tf

    from rca_data_tools_spark.sources.sinks import clone_table

    root, df = _mk(spark)
    alter_table_rename_column(root, {"v": "reading"}, DDL)
    dest = os.path.join(_tf.mkdtemp(prefix="cm_clone_"), "t")
    clone_table(root, dest)
    assert column_mapping(dest) == {"reading": "v"}
    assert read_version_logical(spark, dest, DDL).columns == ["k", "u", "reading"]
    alter_table_rename_column(dest, {"reading": "obs"}, DDL)
    assert column_mapping(dest) == {"obs": "v"}
    assert column_mapping(root) == {"reading": "v"}  # source untouched


def test_read_changes_logical_crosses_rename(spark):
    """A CDF range SPANNING a rename reads under the end version's logical
    names end-to-end (the physical sidecars keep their creation-time
    names, like data files), and replaying the logical feed reproduces the
    logical table."""
    from rca_data_tools_spark.sources.sinks import (
        merge_into_table, read_changes_logical, replay_changes,
    )

    root, df = _mk(spark)
    b1 = spark.createDataFrame([(1, 50, 1111.0), (500, 9, 5.0)], DDL)
    merge_into_table(spark, root, b1, ["k"], DDL, zone_key="k",
                     changes_feed=True)                              # v1
    alter_table_rename_column(root, {"v": "reading"}, DDL)           # v2
    b2 = spark.createDataFrame(
        [(2, 50, 2222.0)], "k long, u long, reading double"
    )
    merge_table_logical(spark, root, b2, ["k"], DDL, zone_key="k",
                        changes_feed=True)                           # v3
    feed = read_changes_logical(spark, root, 0, 3)
    assert sorted(feed.columns) == sorted(
        ["k", "op", "before_u", "after_u", "before_reading",
         "after_reading", "_version"]
    )
    # both merges' events are present under the LOGICAL value name
    by_v = {r["_version"]: r for r in feed.filter("k in (1, 2)").collect()}
    assert by_v[1]["after_reading"] == 1111.0
    assert by_v[3]["after_reading"] == 2222.0
    # replaying the logical feed over the logical v0 reproduces the tip
    base = read_version_logical(spark, root, DDL, n=0)
    # v0's logical name is 'v' — replay addresses the END schema, so align
    base = base.withColumnRenamed("v", "reading")
    replayed = replay_changes(base, feed, ["k"])
    tip = read_version_logical(spark, root, DDL)
    assert sorted(map(tuple, replayed.collect())) == sorted(
        map(tuple, tip.collect())
    )


def test_optimize_materializes_column_drop(spark):
    """The drop_column contract's second half: OPTIMIZE sheds the dead
    physical slots from rewritten files (the bytes stop existing), while
    logical reads and later logical merges keep working."""
    from rca_data_tools_spark.sources.sinks import (
        alter_table_drop_column, latest_committed, optimize_table,
        read_version_logical,
    )

    root, df = _mk(spark)
    alter_table_drop_column(root, ["u"], DDL)                  # v1
    before = read_version_logical(spark, root, DDL)
    stats = optimize_table(spark, root)                         # v2
    v = latest_committed(root)
    vdir = os.path.join(root, f"v{v}")
    # the physical files no longer carry the dropped column
    phys = spark.read.parquet(vdir)
    assert "u" not in phys.columns
    after = read_version_logical(spark, root, DDL)
    assert sorted(map(tuple, after.collect())) == sorted(
        map(tuple, before.collect())
    )
    # a later logical merge still lands (dead slot NULL-fills on rewrite)
    b = spark.createDataFrame([(3, 9999.0)], "k long, v double")
    merge_table_logical(spark, root, b, ["k"], DDL, zone_key="k")
    got = read_version_logical(spark, root, DDL).filter("k = 3").collect()
    assert [(r["k"], r["v"]) for r in got] == [(3, 9999.0)]


def test_vacuum_preserves_metadata_continuity(spark):
    """Vacuuming the RENAME version itself must not revert the logical
    schema: the oldest survivor gets the effective doc pinned into its own
    directory before deletion (the Delta-checkpoint analogue)."""
    from rca_data_tools_spark.sources.sinks import (
        merge_into_table, vacuum_versions,
    )

    root, df = _mk(spark)
    alter_table_rename_column(root, {"v": "reading"}, DDL)        # v1
    for i in range(3):                                             # v2-v4
        merge_into_table(
            spark, root, spark.createDataFrame([(i, 0, 1.0)], DDL.replace("v ", "reading "))
            .withColumnRenamed("reading", "v"),
            ["k"], DDL, zone_key="k",
        )
    out = vacuum_versions(root, keep_last=2)                       # drops v0-v2
    assert "v1" in out["removed"]
    # the rename survives the vacuum of its own commit
    assert column_mapping(root) == {"reading": "v"}
    assert read_version_logical(spark, root, DDL).columns == [
        "k", "u", "reading",
    ]
