"""Table readers.

The reference reads Zarr/NetCDF/CSV-over-HTTP/JSON (rca_data_tools/qaqc/
dashboard.py:305-313, :231-286, :49-60); our engine's canonical storage is
columnar Parquet read through Spark's vectorized reader so Catalyst gets
predicate pushdown, column pruning and (on a partitioned layout) partition
pruning for free. CSV/JSON readers are provided for the config/annotation
shaped inputs.

At 100 TB the fact tables are expected to be laid out as
``<root>/<table>/date=YYYY-MM-DD/part-*.parquet`` (or Iceberg/Delta when the
runtime has the jars); ``load_table`` works identically on a single file or a
partitioned directory — time predicates then prune partitions, not just row
groups.

Resolution registry. Resolving a table — partition discovery over its
``date=`` directories (one Spark job once a listing exceeds 32 paths) plus
parquet schema inference (a second job) — costs more than the rest of a
short-window job. The reference refreshes each instrument once per span, so
one session reads the same table several times in a row. ``load_table``
therefore resolves each table once per session and reuses that resolution:
the base relation (file index, partition spec, schema) and the list of
nanos columns, keyed by (session object, absolute path). Another session,
including ``spark.newSession()``, never sees it. Only local tables take part:
a URI (``file://``, ``s3a://``, ``hdfs://``) cannot be listed with
``os.scandir``, so Spark resolves it on every call.

Freshness rule: every call re-lists the table with ``os.scandir`` (4 ms for
400 files on a local disk) and reuses the resolution only when every file's
(relative path, size, mtime) and the session's whole SQL conf match what they
were when it was resolved; otherwise it resolves again. A resolution taken
while some file was younger than ``RACY_WINDOW_S`` is never reused (git's
racy-clean rule): on a filesystem with coarse timestamps a same-size rewrite
within that window could keep the old mtime. So a call
returns exactly what a fresh ``spark.read`` would return at call time. Window
filters, the UTC check and the nanos/NTZ casts are applied per call; Spark
still prunes partitions against the reused index at physical planning. What
gains is repeated reads of an unchanged table in one session: they launch no
Spark job before the query's own.
"""

from __future__ import annotations

import os
import threading
import time
import weakref
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampNTZType

# Canonical table set of the driver's synthetic corpus (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# A resolution taken while a file's mtime was this close to the listing time
# is not reused; 2 s covers the coarsest common filesystem clock (FAT).
RACY_WINDOW_S = 2.0


@dataclass(frozen=True)
class _Resolution:
    listing: tuple[tuple[str, int, int], ...]
    confs: object  # JVM immutable Map: the session's SQL conf settings
    relation: object  # JVM HadoopFsRelation: file index + schema
    schema: StructType
    nanos: tuple[str, ...]


_registry: "weakref.WeakKeyDictionary[SparkSession, dict[str, _Resolution]]" = (
    weakref.WeakKeyDictionary()
)
_registry_lock = threading.Lock()


def _hidden(name: str) -> bool:
    """Spark's rule for names its file index skips (``_SUCCESS``, ``.crc``,
    in-flight copies); ``_``-prefixed partition directories still count."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _listing(path: str) -> tuple[tuple[str, int, int], ...]:
    """(relative path, size, mtime_ns) of every file under ``path`` (or of
    ``path`` itself when it is a file), sorted: the table's fingerprint."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    out = []
    stack = [""]
    while stack:
        rel = stack.pop()
        try:
            entries = list(os.scandir(os.path.join(path, rel)))
        except FileNotFoundError:
            continue
        for e in entries:
            r = os.path.join(rel, e.name)
            if e.is_dir():
                stack.append(r)
                continue
            try:
                st = e.stat()
            except FileNotFoundError:  # removed since the scan
                continue
            out.append((r, st.st_size, st.st_mtime_ns))
    return tuple(sorted(out))


def _first_data_file(path: str, listing) -> str | None:
    """The first file Spark would read: on a partitioned layout it sits
    under the partition directories."""
    if os.path.isfile(path):
        return path
    for rel, _size, _mtime in listing:
        if not any(_hidden(part) for part in rel.split(os.sep)):
            return os.path.join(path, rel)
    return None


def _nanos_timestamp_cols(data_file: str | None) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects. Detected from one data file's footer (cheap,
    metadata-only)."""
    if data_file is None:
        return []
    try:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(data_file)
        # Arrow reports BOTH real TIMESTAMP(NANOS) columns and legacy INT96
        # timestamps (Spark's own default parquet output) as timestamp[ns].
        # Only the INT64-backed NANOS kind trips Spark's vectorized reader —
        # INT96 scans natively — so require the physical type to match, or a
        # Spark-written table would be mis-rebuilt as epoch-nanos longs.
        ns_cols = {fld.name for fld in pf.schema_arrow if str(fld.type) == "timestamp[ns]"}
        phys = {
            pf.schema.column(i).name: pf.schema.column(i).physical_type
            for i in range(len(pf.schema))
        }
        return [n for n in sorted(ns_cols) if phys.get(n) == "INT64"]
    except Exception:
        return []


def _session_confs(spark: SparkSession):
    return spark._jsparkSession.sessionState().conf().getAllConfs()


def _resolve(spark: SparkSession, path: str) -> tuple[DataFrame, _Resolution]:
    """The session's resolution of the local table ``path``: reused when the
    table's files and the session's conf are unchanged, else taken afresh."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    listed_ns = time.time_ns()
    listing = _listing(path)
    with _registry_lock:
        tables = _registry.setdefault(spark, {})
        hit = tables.get(path)
    if hit is not None and hit.listing == listing:
        if hit.nanos:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # compared in the JVM: the conf is never copied to Python
        if hit.confs.equals(_session_confs(spark)):
            # a new LogicalRelation over the same relation: fresh attribute
            # ids, so two frames of one table self-join like two reads
            jdf = spark._jsparkSession.baseRelationToDataFrame(hit.relation)
            return ClassicDataFrame(jdf, spark), hit

    nanos = tuple(_nanos_timestamp_cols(_first_data_file(path, listing)))
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    confs = _session_confs(spark)
    df = spark.read.parquet(path)
    res = _Resolution(
        listing, confs, df._jdf.queryExecution().analyzed().relation(), df.schema, nanos
    )
    cutoff = listed_ns - int(RACY_WINDOW_S * 1e9)
    racy = any(mtime >= cutoff for _r, _s, mtime in listing)
    with _registry_lock:
        if racy:
            tables.pop(path, None)
        else:
            tables[path] = res
    return df, res


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    time_filters: dict | None = None,
    partition_time_col: str = "ts",
) -> DataFrame:
    """Load one table from a scale-factor directory.

    Accepts either ``<sf_dir>/<name>.parquet`` (single file, the test corpus)
    or ``<sf_dir>/<name>/`` (partitioned directory, the at-scale layout).
    The table is resolved once per session and re-resolved whenever its
    files change (see the module docstring).

    Nanosecond-precision timestamp columns (which Spark cannot scan natively)
    are read as epoch-nanos longs via the legacy conf and rebuilt as
    microsecond timestamps with integer division — no precision loss, and the
    cast happens inside codegen, so scan speed is unaffected.

    ``time_filters`` maps column name → ``(lo, hi)`` timestamp strings (either
    bound may be ``None``), selecting the half-open window ``[lo, hi)``.
    Passing the bounds here instead of filtering the returned frame matters at
    scale: a filter written against the *rebuilt* timestamp column sits above
    a Project and can never reach the parquet scan, but here the bounds are
    translated to epoch-nanos literals and applied to the raw int64 column, so
    they arrive as ``PushedFilters`` and prune row groups (and, on a
    date-partitioned layout, whole partitions). For native-timestamp columns
    the filter is applied directly and pushes down as-is.
    """
    from pyspark.sql import functions as F

    # The NTZ->TIMESTAMP normalization below is instant-preserving only under
    # a UTC session; a reused non-UTC session would silently shift values.
    session_tz = spark.conf.get("spark.sql.session.timeZone")
    if session_tz != "UTC":
        raise ValueError(
            f"load_table requires spark.sql.session.timeZone=UTC (got {session_tz!r}); "
            "the engine pins UTC so naive-timestamp columns keep their instants."
        )

    file_path = os.path.join(sf_dir, f"{name}.parquet")
    dir_path = os.path.join(sf_dir, name)
    path = file_path if os.path.exists(file_path) else dir_path
    if "://" not in path and os.path.exists(path):
        df, res = _resolve(spark, os.path.abspath(path))
        schema, nanos = res.schema, res.nanos
    else:
        # a URI (or a missing path, which Spark reports): Spark lists it
        df = spark.read.parquet(path)
        schema, nanos = df.schema, ()
    # timestamp[us] parquet columns without a timezone arrive as
    # TIMESTAMP_NTZ; the engine's time functions (unix_millis, window, ...)
    # expect TIMESTAMP. With the session timezone pinned to UTC the cast is a
    # wall-clock no-op, so normalize here — but only after the raw-column
    # filters below, which must sit under the Project to reach the scan.
    ntz = [f.name for f in schema.fields if isinstance(f.dataType, TimestampNTZType)]

    # On the at-scale layout (<table>/date=YYYY-MM-DD/...) a timestamp
    # predicate alone prunes row groups but NOT partitions — Spark cannot
    # infer date = to_date(ts). The layout contract is that `date` is the
    # UTC date of ``partition_time_col`` (default ``ts``) — and ONLY that
    # column: deriving the partition predicate from a filter on some other
    # timestamp column (e.g. an ingest-time column on a table partitioned by
    # observation time) would silently over-prune partitions and drop rows.
    has_date_partition = "date" in schema.names

    for col, (lo, hi) in (time_filters or {}).items():
        if has_date_partition and col == partition_time_col and col != "date":
            if lo is not None:
                df = df.filter(F.col("date") >= F.to_date(F.lit(lo).cast("timestamp")))
            if hi is not None:
                # the window is half-open: a midnight `hi` must not keep the
                # partition that starts at it, so bound by the last instant
                # inside the window
                last = F.lit(hi).cast("timestamp") - F.expr("INTERVAL 1 MICROSECOND")
                df = df.filter(F.col("date") <= F.to_date(last))
        if col in nanos:
            # Foldable expression: constant-folds to a long literal before
            # predicate pushdown, matching Spark's own literal→timestamp
            # semantics (session timezone) exactly.
            def bound(s):
                return F.unix_micros(F.lit(s).cast("timestamp")) * F.lit(1000)

        elif col in ntz:
            # Route through TIMESTAMP first so a bound string carrying an
            # explicit zone offset selects the same instant as the TIMESTAMP
            # and nanos branches (a direct NTZ cast would drop the offset);
            # for naive strings under the UTC session the two casts are a
            # wall-clock no-op.
            def bound(s):
                return F.lit(s).cast("timestamp").cast("timestamp_ntz")

        else:
            def bound(s):
                return F.lit(s).cast("timestamp")

        if lo is not None:
            df = df.filter(F.col(col) >= bound(lo))
        if hi is not None:
            df = df.filter(F.col(col) < bound(hi))

    for c in nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view so operators can be written in SQL."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """CSV source (reference: HTTP CSV scans, qaqc/dashboard.py:231-286).

    Schema should be supplied in production — ``inferSchema`` triggers an
    extra full scan, which is unacceptable on large inputs.
    """
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON source (reference: annotation scans, qaqc/dashboard.py:49-60)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)
