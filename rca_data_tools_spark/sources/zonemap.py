"""The zone-map manifest: per-file (min, max) bounds that turn range and
point predicates into file pruning from KB of metadata (the map-pruning
shape of Shark and of Delta/Iceberg file statistics).

Every table version may carry one ``_manifest.json`` beside its data files::

    {"zone_key": <col>,
     "files": {<data-file basename>: {"mn": <min>, "mx": <max>}, ...},
     "columns": {<other col>: {<basename>: {"mn": ..., "mx": ...}}, ...}}

``files`` is the PRIMARY map, on the column the version is clustered/merged
by; ``columns`` holds optional SECONDARY maps (OPTIMIZE ZORDER records both
clustering dimensions). NULL bounds mark a file with no non-NULL value in the
column (a 0-row part, an all-NULL column): it can never match and always
prunes. This module is the only code that knows that layout.

Trust rule: a map is used only when its file set equals the version's data
files on disk (the disk cross-check). A file the manifest does not know —
e.g. appended by a plain Spark write — makes the map unusable, and callers
fall back to every file (reads) or to footer/scan stats (merges): staleness
costs opens or a scan, never a wrong answer.

Writers never re-scan what they can avoid: files hardlinked from the previous
version carry its entries; new files take their bounds from parquet footers
when the column type has exact footer stats, else from ONE Spark scan of just
those files grouped by ``input_file_name``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_NAME = "_manifest.json"


def _local_path(uri: str) -> str:
    """``input_file_name``/``_metadata.file_path`` return ``file:`` URIs on
    a local filesystem; strip back to a plain path (pass-through for real
    object-store URIs)."""
    from urllib.parse import unquote, urlparse

    p = urlparse(uri)
    return unquote(p.path) if p.scheme in ("file", "") else uri


def _data_files(table_dir: str) -> "list[str]":
    return sorted(f for f in os.listdir(table_dir) if f.endswith(".parquet"))


def _read_manifest_doc(table_dir: str) -> "dict | None":
    import json

    path = os.path.join(table_dir, MANIFEST_NAME)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _column_maps(doc: "dict | None") -> dict:
    """{col: {basename: {mn, mx}}} for every map of a manifest doc, the
    primary ``zone_key`` map included."""
    if doc is None:
        return {}
    return {**doc.get("columns", {}), doc["zone_key"]: doc["files"]}


def _read_manifest(target_dir: str, zone_key: str) -> "dict | None":
    """The version's persisted zone map for ``zone_key`` ({basename:
    {mn, mx}}) — primary or secondary — or None when absent. Not
    cross-checked against the disk."""
    return _column_maps(_read_manifest_doc(target_dir)).get(zone_key)


def zone_key_of(table_dir: str) -> "str | None":
    """The column of the version's primary map, or None without a manifest."""
    doc = _read_manifest_doc(table_dir)
    return None if doc is None else doc["zone_key"]


def checked_maps(table_dir: str) -> dict:
    """Every column map of the version's manifest that passes the disk
    cross-check: its file set equals the data files in ``table_dir``."""
    maps = _column_maps(_read_manifest_doc(table_dir))
    if not maps:
        return {}
    disk = set(_data_files(table_dir))
    return {c: m for c, m in maps.items() if set(m) == disk}


def manifest_zone_max(target_dir: str, zone_key: str):
    """Driver-side MAX(zone_key) of a freshly written version, read from
    the manifest that write just persisted — zero Spark jobs (guide §1.4:
    measure on metadata you already have; §6: stats from the format, not a
    re-scan). Exact by construction: manifest bounds are exact integer
    footer/scan stats over every row of the version. Returns None when no
    manifest/bounds exist (empty table, all-NULL key, exotic type) —
    callers keep their aggregate-job fallback for that case."""
    m = _read_manifest(target_dir, zone_key)
    if m is None:
        return None
    vals = [e["mx"] for e in m.values() if e.get("mx") is not None]
    return max(vals) if vals else None


def _write_manifest(
    out_dir: str,
    zone_key: str,
    entries: dict,
    col_entries: "dict[str, dict] | None" = None,
) -> bool:
    """Persist the zone map next to the data: the primary ``zone_key`` map
    plus optional per-column maps ({col: {basename: {mn, mx}}}) for other
    prunable columns. Zone values that don't JSON-serialize (exotic types)
    drop that map — the next merge falls back to the scan path, never to
    wrong pruning."""
    import json

    body = {"zone_key": zone_key, "files": entries}
    if col_entries:
        safe = {}
        for c, m in col_entries.items():
            try:
                json.dumps(m)
            except TypeError:
                continue
            safe[c] = m
        if safe:
            body["columns"] = safe
    try:
        doc = json.dumps(body)
    except TypeError:
        return False
    with open(os.path.join(out_dir, MANIFEST_NAME), "w") as f:
        f.write(doc)
    return True


def link_manifest(src_dir: str, out_dir: str) -> None:
    """Hardlink ``src_dir``'s manifest into ``out_dir`` — for a new version
    whose data files are exactly ``src_dir``'s."""
    src = os.path.join(src_dir, MANIFEST_NAME)
    if os.path.exists(src):
        os.link(src, os.path.join(out_dir, MANIFEST_NAME))


def prune_files(table_dir: str, col: str, hit) -> "list[str] | None":
    """Metadata-only file pruning: the data-file basenames whose [mn, mx]
    for ``col`` satisfies ``hit(mn, mx)`` — or None when the manifest has
    no cross-checked map for ``col`` (then every file is a candidate).
    NULL-bounded entries can never contain a match and always prune."""
    m = checked_maps(table_dir).get(col)
    if m is None:
        return None
    out = []
    for name, e in m.items():
        mn, mx = e.get("mn"), e.get("mx")
        if mn is None or mx is None:
            continue
        try:
            if hit(mn, mx):
                out.append(name)
        except TypeError:
            return None  # incomparable types: no pruning, never wrong
    return sorted(out)


def manifest_candidate_files(
    table_dir: str, key_col: str, values: list
) -> "list[str] | None":
    """``prune_files`` for a point predicate ``key_col IN values``: the
    files whose range could contain ANY of ``values``."""
    return prune_files(
        table_dir, key_col, lambda mn, mx: any(mn <= v <= mx for v in values)
    )


def _footer_file_stats(
    paths: "list[str]", cols: "list[str]"
) -> "dict | None":
    """Exact per-file (min, max) for integer-typed columns straight from the
    parquet FOOTERS — KB metadata reads on the driver, zero data scan, zero
    Spark jobs (what a real format reads from its manifest instead of
    re-scanning data it just wrote — guide §6). Returns
    {path: {col: (mn, mx)}} or None when any file lacks trustworthy stats
    for any requested column; callers then fall back to the one-pass column
    scan, so staleness costs a scan, never a wrong bound.

    Integer and string columns only, on purpose: INT32/INT64 footer min/max
    are exact by spec, and STRING (BYTE_ARRAY/String) row-group stats from
    parquet-mr/Spark writers are exact at its defaults (stats truncation is
    disabled — only the separate column index truncates; values past the
    4 KB stats cap omit min/max entirely, which lands in the scan fallback
    below). Parquet orders strings by unsigned bytes, the same order
    Spark's UTF8String comparisons use, so the bounds compare consistently
    with the scan path. Double stats stay excluded (writers order NaN
    inconsistently while Spark ranks it greatest). A file whose rows are
    all NULL in ``col`` reports (None, None) — the same never-a-candidate
    bound the scan path yields."""
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    out: dict = {}
    for p in paths:
        try:
            md = pq.ParquetFile(p).metadata
        except Exception:
            return None
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        per_col: dict = {}
        for c in cols:
            if c not in names:
                return None
            i = names.index(c)
            sc = md.schema.column(i)
            lt = str(sc.logical_type)
            if sc.physical_type in ("INT32", "INT64") and (
                lt == "None" or (lt.startswith("Int(") and "isSigned=true" in lt)
            ):
                want = int
            elif sc.physical_type == "BYTE_ARRAY" and lt == "String":
                want = str
            else:
                return None
            mn = mx = None
            for rg in range(md.num_row_groups):
                cm = md.row_group(rg).column(i)
                s = cm.statistics
                if s is None:
                    return None
                if not s.has_min_max:
                    # an all-NULL group legitimately has no bounds; a group
                    # with live values but no bounds is untrustworthy
                    if s.null_count is not None and s.null_count == cm.num_values:
                        continue
                    return None
                smn, smx = s.min, s.max
                if not isinstance(smn, want) or not isinstance(smx, want):
                    return None
                mn = smn if mn is None else min(mn, smn)
                mx = smx if mx is None else max(mx, smx)
            per_col[c] = (mn, mx)
        out[p] = per_col
    return out


def file_stats(
    spark: SparkSession,
    table_dir: str,
    names: "list[str]",
    cols: "list[str]",
    schema_ddl: "str | None" = None,
) -> dict:
    """{col: {basename: {mn, mx}}} for the data files ``names`` of
    ``table_dir``: from their parquet footers when every column has exact
    footer stats, else from one scan grouped by ``input_file_name``. Every
    file starts at NULL bounds, because a 0-row part yields no scan group
    yet must still be in the manifest. On the scan path a column the files
    do not have is left out."""
    paths = [os.path.join(table_dir, n) for n in names]
    footer = _footer_file_stats(paths, cols)
    if footer is not None:
        out: dict = {c: {} for c in cols}
        for n, p in zip(names, paths):
            for c in cols:
                mn, mx = footer[p][c]
                out[c][n] = {"mn": mn, "mx": mx}
        return out
    reader = spark.read if schema_ddl is None else spark.read.schema(schema_ddl)
    # a whole directory is one path: past 32 paths Spark would list them
    # with a job of its own
    whole = set(names) == set(_data_files(table_dir))
    df = reader.parquet(table_dir) if whole else reader.parquet(*paths)
    cols = [c for c in cols if c in df.columns]
    if not cols:
        return {}
    out = {c: {n: {"mn": None, "mx": None} for n in names} for c in cols}
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"mn__{c}"), F.max(c).alias(f"mx__{c}")]
    for r in df.groupBy(F.input_file_name().alias("__f")).agg(*aggs).collect():
        name = os.path.basename(_local_path(r["__f"]))
        for c in cols:
            out[c][name] = {"mn": r[f"mn__{c}"], "mx": r[f"mx__{c}"]}
    return out


def _zone_file_stats(
    spark: SparkSession, target_dir: str, zone_key: str, schema_ddl: str
) -> "tuple[dict, bool]":
    """Per-file (min, max) of ``zone_key`` for every data file of a version:
    the manifest's map when it passes the disk cross-check, else footer or
    scan stats. Returns ({path: (mn, mx)}, manifest_used)."""
    m = checked_maps(target_dir).get(zone_key)
    used = m is not None
    if not used:
        m = file_stats(
            spark, target_dir, _data_files(target_dir), [zone_key], schema_ddl
        )[zone_key]
    return {os.path.join(target_dir, n): (e["mn"], e["mx"]) for n, e in m.items()}, used


def build_manifest(
    spark: SparkSession,
    out_dir: str,
    zone_key: "str | None",
    prior_dir: "str | None" = None,
    carried: "set[str] | frozenset[str]" = frozenset(),
    schema_ddl: "str | None" = None,
    cols: "list[str] | tuple" = (),
    bounds: "dict | None" = None,
) -> None:
    """Write the manifest of the new version ``out_dir``: a primary map on
    ``zone_key`` plus secondary maps for ``cols`` and for every other
    cross-checked map of ``prior_dir``'s manifest. The data files named in
    ``carried`` (hardlinked from ``prior_dir``) keep their entries —
    ``bounds`` ({basename: {mn, mx}}) supplies their ``zone_key`` entries
    when the caller already has them — and every other data file gets fresh
    ``file_stats`` for all the maps' columns in one pass. Writes nothing
    when ``zone_key`` is None, when no ``zone_key`` entries exist for the
    carried files, or when the new files lack the ``zone_key`` column: the
    next merge then computes stats itself."""
    if zone_key is None:
        return
    maps = checked_maps(prior_dir) if prior_dir is not None else {}
    if bounds is not None:
        maps[zone_key] = bounds
    if carried and zone_key not in maps:
        return
    maps = {c: {n: m[n] for n in carried} for c, m in maps.items()}
    for c in (zone_key, *cols):
        maps.setdefault(c, {})
    new = [n for n in _data_files(out_dir) if n not in carried]
    if new:
        fresh = file_stats(spark, out_dir, new, list(maps), schema_ddl)
        maps = {c: {**m, **fresh[c]} for c, m in maps.items() if c in fresh}
        if zone_key not in maps:
            return
    files = maps.pop(zone_key)
    _write_manifest(out_dir, zone_key, files, maps or None)


def write_zoned(
    df: DataFrame, out_dir: str, zone_key: "str | None", n_files: int
) -> None:
    """Write ``df`` as a fresh version directory: range-clustered on
    ``zone_key`` when given (each file covers a tight key range, so the
    first merge already prunes), with its manifest."""
    if zone_key is not None:
        df = df.repartitionByRange(n_files, zone_key).sortWithinPartitions(zone_key)
    df.write.parquet(out_dir)
    build_manifest(df.sparkSession, out_dir, zone_key)
