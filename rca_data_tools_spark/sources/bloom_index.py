"""Per-FILE Bloom index: file-skipping for point lookups on keys the layout
is not sorted by.

Zone maps (zonemap.MANIFEST_NAME) prune range predicates on the clustering
key; a point lookup on any OTHER high-cardinality column (fetch these
event_ids / user_ids / doc_ids out of 100 TB) still opens every file. The
standard format answer (parquet's own bloom_filter footers, Delta's bloom
index) is a per-file Bloom filter on the lookup column: a file whose filter
rejects every probed value is never opened. One-sided as always — false
positives only cost an extra file open, false negatives cannot happen.

Layout: a parquet sidecar directory ``_bloom/`` next to the data files
(like the ``_deletes/`` deletion vectors), rows (f = file basename,
key = indexed column, m = bits, words = bitmap as int64 words). Hash
positions are ``pmod(xxhash64(seed_i, key), m)`` with functions/bloom.py's
fixed seeds, computed by Spark's own xxhash64 on BOTH the build and the
probe side — driver and executor never re-implement the hash.

Build shape (scales to a million files): one scan projects
(file, position), a distinct bounds each file's group at <= m rows, and
``applyInPandas`` packs each file's positions into its bitmap executor-side
— the driver never sees a position. Probe shape: the values (lookup-sized)
cross-join the files-sized index, the membership test is element_at +
shiftleft + bit-AND per seed — all codegen — and only surviving files are
opened, with the exact predicate re-applied on the survivors (and the
version's deletion vectors subtracted: a lookup must not resurrect deleted
rows).

The chain DMLs carry the sidecar like the deletion vectors: hardlink DMLs
(DELETE/UPDATE) link it forward verbatim; pruned MERGE keeps rows for
carried files and drops rewritten ones (sinks.py) — files missing from the
index are ALWAYS candidates, so staleness degrades to extra opens, never to
wrong answers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rca_data_tools_spark.functions.bloom import BLOOM_SEEDS
from rca_data_tools_spark.sources import zonemap
from rca_data_tools_spark.sources.sinks import (
    BLOOM_NAME,
    read_deletion_vectors,
    _subtract_deletes,
)

BLOOM_DDL = "f string, key string, m int, words array<bigint>"


def _bloom_dir(table_dir: str) -> str:
    return os.path.join(table_dir, BLOOM_NAME)


def _positions_col(key, m):
    """The k hash positions as an array column; key and m are Columns so the
    same expression serves the build (table column) and the probe (literal
    values) — hash parity by construction."""
    return F.array(
        *[
            F.pmod(F.xxhash64(F.lit(seed), key), m).cast("int")
            for seed in BLOOM_SEEDS
        ]
    )


def build_bloom_index(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    m_bits: int = 1 << 16,
    schema_ddl: "str | None" = None,
    target_bytes: int = 128 << 20,
) -> int:
    """Build (or rebuild) the ``_bloom/`` sidecar for ``key_col``. Returns
    the number of files indexed. ``m_bits`` sizes every file's filter
    (default 64 Kbit = 8 KB/file: ~1e-4 fpp at 10k distinct keys/file with
    k=4; size it ~10-16 bits per distinct key per file).

    Scale shape of the rebuild itself (VERDICT r09 item 8): the packed
    bitmaps write as ``key-<col>-`` part files sized to ``target_bytes``
    each — a million-file table's ~8 GB sidecar lands on ~64 parallel
    tasks, never one — and rebuilding one key touches ONLY that key's
    parts (move the new parts in, then unlink the old ones: during the
    swap a probe sees both generations' rows and unions their candidates —
    one-sided, extra opens, never a missing row). Other keys' parts are
    not read, rewritten, or swapped. Legacy sidecars whose unprefixed
    parts mix keys are consolidated through the old union path once."""
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    import math

    import pandas as pd

    reader = spark.read if schema_ddl is None else spark.read.schema(schema_ddl)
    df = reader.parquet(table_dir)
    if key_col not in df.columns:
        raise ValueError(f"build_bloom_index: {key_col!r} not in {df.columns}")
    key_type = df.schema[key_col].dataType.simpleString()
    pos = (
        df.select(
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ).alias("f"),
            F.explode(
                _positions_col(F.col(key_col), F.lit(m_bits))
            ).alias("pos"),
        )
        .distinct()  # bounds every file's group at <= m_bits rows
    )
    n_words = m_bits // 64

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        words = np.zeros(n_words, dtype=np.uint64)
        p = pdf["pos"].to_numpy()
        np.bitwise_or.at(words, p // 64, np.uint64(1) << (p % 64).astype(np.uint64))
        return pd.DataFrame(
            {
                "f": [pdf["f"].iloc[0]],
                "key": [key_col],
                "m": [m_bits],
                "words": [words.view(np.int64).tolist()],
            }
        )

    packed = pos.groupBy("f").applyInPandas(_pack, schema=BLOOM_DDL)
    bdir = _bloom_dir(table_dir)
    # non-identifier key names (dashes, dots) hex-encode so one key's
    # prefix can never be another's proper prefix
    tag = key_col if key_col.isidentifier() else key_col.encode().hex()
    prefix = f"key-{tag}-"
    types: dict = {}
    legacy: list = []
    if os.path.isdir(bdir):
        # indexes COMPOSE per key. Per-key-prefixed parts need no read at
        # all — only this key's parts get replaced. Unprefixed LEGACY parts
        # (pre-r10 sidecars, or a pruned merge's carry rewrite) mix keys in
        # one file set: consolidate them through the union path once, after
        # which every key owns its own parts again.
        legacy = [
            f for f in os.listdir(bdir)
            if f.endswith(".parquet") and not f.startswith("key-")
        ]
        if legacy:
            prior = spark.read.schema(BLOOM_DDL).parquet(
                *[os.path.join(bdir, f) for f in legacy]
            ).filter(F.col("key") != key_col)
            packed = packed.unionByName(prior)
        tpath = os.path.join(bdir, "_key_type")
        if os.path.exists(tpath):
            for line in open(tpath).read().splitlines():
                if "=" in line:
                    k, _, t = line.partition("=")
                    types[k] = t
    types[key_col] = key_type
    n_data_files = sum(1 for x in os.listdir(table_dir) if x.endswith(".parquet"))
    n_parts = max(1, math.ceil(n_data_files * (m_bits // 8 + 64) / target_bytes))
    tmp = bdir + ".__rebuild__"
    # repartition, not coalesce: AQE legitimately collapses a small pack
    # shuffle to one partition, and coalesce cannot widen it back — the
    # explicit count guarantees the write parallelism AND leaves the pack
    # stage at its natural width (the bitmap re-shuffle is O(sidecar
    # bytes), the same order as the write itself)
    packed.repartition(n_parts).write.mode("overwrite").parquet(tmp)
    os.makedirs(bdir, exist_ok=True)
    old = [
        f for f in os.listdir(bdir)
        if f.startswith(prefix) and f.endswith(".parquet")
    ]
    # move the NEW generation in first (a concurrent probe sees both
    # generations and unions their candidates — one-sided), then drop this
    # key's old parts and any consolidated legacy parts
    new_parts = sorted(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    for i, f in enumerate(new_parts):
        os.rename(
            os.path.join(tmp, f), os.path.join(bdir, f"{prefix}{i:05d}-{f}")
        )
    import shutil

    shutil.rmtree(tmp)
    for f in (*old, *legacy):
        os.unlink(os.path.join(bdir, f))
    with open(os.path.join(bdir, "_key_type"), "w") as fh:
        fh.write("\n".join(f"{k}={t}" for k, t in sorted(types.items())))
    return (
        spark.read.schema(BLOOM_DDL).parquet(bdir)
        .filter(F.col("key") == key_col).count()
    )


def has_bloom_index(table_dir: str) -> bool:
    d = _bloom_dir(table_dir)
    return os.path.isdir(d) and any(f.endswith(".parquet") for f in os.listdir(d))


def bloom_candidate_files(
    spark: SparkSession, table_dir: str, key_col: str, values: list
) -> "tuple[list[str], int]":
    """(candidate file basenames, total data files). Files without an index
    row — new parts appended after the build — are always candidates;
    indexed files survive only if ANY probed value passes their filter.
    The probe is one tiny-cross-files-sized join, all codegen."""
    data_files = sorted(
        f for f in os.listdir(table_dir) if f.endswith(".parquet")
    )
    if not has_bloom_index(table_dir):
        return data_files, len(data_files)
    bdir = _bloom_dir(table_dir)
    types = {}
    for line in open(os.path.join(bdir, "_key_type")).read().splitlines():
        if "=" in line:
            k, _, t = line.partition("=")
            types[k] = t
    if key_col not in types:
        # no index for THIS key: every file is a candidate (exact scan)
        return data_files, len(data_files)
    ktype = types[key_col]
    bl = spark.read.schema(BLOOM_DDL).parquet(bdir).filter(
        F.col("key") == key_col
    )
    from rca_data_tools_spark.functions.localrel import local_rows_df

    vals = local_rows_df(spark, [(v,) for v in values], f"__v {ktype}")
    probe = vals.crossJoin(bl)
    cond = F.lit(True)
    for seed in BLOOM_SEEDS:
        p = F.pmod(F.xxhash64(F.lit(seed), F.col("__v")), F.col("m")).cast("int")
        word = F.element_at(F.col("words"), (p / F.lit(64)).cast("int") + F.lit(1))
        mask = F.call_function("shiftleft", F.lit(1).cast("long"), p % F.lit(64))
        cond = cond & (word.bitwiseAND(mask) != F.lit(0))
    hit = {r["f"] for r in probe.filter(cond).select("f").distinct().collect()}
    indexed = {r["f"] for r in bl.select("f").distinct().collect()}
    cands = sorted(f for f in data_files if f in hit or f not in indexed)
    return cands, len(data_files)


def point_lookup(
    spark: SparkSession,
    table_dir: str,
    key_col: str,
    values: list,
    schema_ddl: "str | None" = None,
) -> "tuple[DataFrame, dict]":
    """Fetch the rows whose ``key_col`` is in ``values``, opening only the
    files NEITHER the bloom index NOR the zone-map manifest can rule out
    (the two prunes compose: bloom answers "definitely absent", the
    manifest's per-column [mn, mx] answers "out of range" — after OPTIMIZE
    ZORDER both clustering dimensions carry manifest bounds, VERDICT r09
    item 5), and subtracting the version's deletion vectors (a lookup
    composes with merge-on-read deletes).
    Returns (rows, {"files_total", "files_scanned"})."""
    cands, total = bloom_candidate_files(spark, table_dir, key_col, values)
    zcands = zonemap.manifest_candidate_files(table_dir, key_col, values)
    if zcands is not None:
        keep = set(zcands)
        cands = [f for f in cands if f in keep]
    stats = {"files_total": total, "files_scanned": len(cands)}
    reader = spark.read if schema_ddl is None else spark.read.schema(schema_ddl)
    if not cands:
        out = reader.parquet(table_dir).filter(F.col(key_col).isin(values)).limit(0)
        return out, stats
    df = reader.parquet(*[os.path.join(table_dir, f) for f in cands])
    dv = read_deletion_vectors(spark, table_dir)
    if dv is not None:
        df = _subtract_deletes(df, dv)
    return df.filter(F.col(key_col).isin(values)), stats
