"""Driver-checkable faces for the output-lifecycle and ingest components
(SURVEY §2.1 S3/S4, S9-S15, §2.9 ST-4) — the rows the coverage table long
carried as "test-only by nature".

They are still not *pure* SQL: each face performs its real side effect
(writes partitioned parquet to a scratch dir, serves bytes over a live
localhost HTTP socket, deletes stale files) and then RETURNS the read-back
or reconciliation result as a DataFrame, while the oracle derives the same
expected content independently in DuckDB — from the same parquet tables
for the sink lifecycles, or as an explicit expected-literal table for the
ingest parsers (the golden-answer pattern of tests/test_hdf5_golden.py:
the engine parses raw bytes/HTML/CSV, the oracle states what a correct
parse must produce). A hash match therefore certifies the WHOLE lifecycle
— write + layout + read-back typing, or fetch + parse + typing — not just
a query plan.

Scratch directories are fresh per invocation (tempfile) and left for the
OS to reap, so driver runs and pytest parity runs never interfere.

Reference lifecycle being modeled: regenerate-one-(site,span) refresh with
stale-output deletion and index rebuild (rca_data_tools/qaqc/plots.py:
438-560, qaqc/index.py:20-51, qaqc/visual_data.py:40-83, qaqc/notes.py:
52-63).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rca_data_tools_spark.queries._registry import query
from rca_data_tools_spark.sources.readers import load_table, read_csv
from rca_data_tools_spark.sources.zonemap import manifest_zone_max
from rca_data_tools_spark.functions.localrel import local_rows_df

_CUTOFF = "2024-01-16"


def _daily(e: DataFrame) -> DataFrame:
    return e.groupBy(
        F.to_date("ts").cast("string").alias("d"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
    )


def _stage_feed_files(
    spark: SparkSession,
    batches: "list[DataFrame]",
    ddl: str,
    dests: "list[str]",
    mtimes: bool = False,
) -> None:
    """Write every micro-batch frame of a streaming feed in ONE Spark job:
    the batches union with a partition tag and land via a single
    ``partitionBy`` write, then each partition's part file moves to its
    destination path. The per-batch ``coalesce(1).write`` loop this
    replaces paid one full aggregate+write JOB per batch — at bench scale
    the job count IS the setup cost, and in one job the batches' aggregate
    subtrees schedule concurrently on the idle cores (guide §2.6 overlap /
    §1.2 fewer passes). A batch with no rows still yields its (schema-only)
    feed file. ``mtimes=True`` stamps increasing mtimes so file-order
    arrival is deterministic."""
    stage = tempfile.mkdtemp(prefix="rca_feed_stage_")
    u = None
    for i, b in enumerate(batches):
        t = b.withColumn("__b", F.lit(i))
        u = t if u is None else u.unionByName(t)
    u.coalesce(1).write.partitionBy("__b").parquet(os.path.join(stage, "out"))
    for i, dst in enumerate(dests):
        pdir = os.path.join(stage, "out", f"__b={i}")
        parts = (
            [f for f in os.listdir(pdir) if f.endswith(".parquet")]
            if os.path.isdir(pdir)
            else []
        )
        if parts:
            os.rename(os.path.join(pdir, parts[0]), dst)
        else:  # empty batch: write a schema-only file (rare, tiny-SF corpora)
            ed = os.path.join(stage, f"empty{i}")
            spark.createDataFrame([], ddl).coalesce(1).write.parquet(ed)
            part = [f for f in os.listdir(ed) if f.endswith(".parquet")][0]
            os.rename(os.path.join(ed, part), dst)
        if mtimes:
            os.utime(dst, (1_000_000 + i * 10, 1_000_000 + i * 10))


@query(
    "sink_partition_overwrite",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), refresh_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events WHERE value > 50 GROUP BY 1, 2
)
-- dynamic-overwrite semantics exactly: a partition survives unless the
-- refresh PRODUCED rows for it — a day >= cutoff where no event clears
-- value > 50 writes no partition and therefore keeps its full-run rows
SELECT d, event_type, n, n_users FROM full_run
WHERE d NOT IN (SELECT DISTINCT d FROM refresh_run WHERE d >= '{_CUTOFF}')
UNION ALL
SELECT d, event_type, n, n_users FROM refresh_run WHERE d >= '{_CUTOFF}'
""",
)
def sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 + ST-4 end-to-end: write the full daily rollup partitioned by
    day, then OVERWRITE only the days >= cutoff with a reprocessed rollup
    (dynamic partition overwrite — untouched partitions must survive), and
    return the read-back of the final directory. The oracle stitches the
    same final state from the two logical runs, so a hash match proves the
    overwrite replaced exactly the refreshed partitions."""
    from rca_data_tools_spark.sources.sinks import write_partitioned

    e = load_table(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="rca_sink_parts_")
    daily = _daily(e)
    write_partitioned(daily, out, ["d"])
    write_partitioned(
        _daily(e.filter(F.col("value") > 50)).filter(F.col("d") >= _CUTOFF),
        out,
        ["d"],
    )
    # schema-first read-back DERIVED from the written frame (partition
    # column moves last, as partitioned layouts store it): an empty corpus
    # writes only _SUCCESS, which schema inference cannot type
    part_last = daily.select("event_type", "n", "n_users", "d").schema
    back = spark.read.schema(part_last).parquet(out)
    return back.select("d", "event_type", "n", "n_users")


@query(
    "sink_stale_reconcile",
    oracle="""
WITH all_days AS (
  SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) AS d FROM events
), produced_days AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d
  FROM events GROUP BY 1 HAVING COUNT(*) >= 340
)
SELECT 'plots/' || d || '.png' AS key
FROM (SELECT d FROM all_days EXCEPT SELECT d FROM produced_days)
""",
)
def sink_stale_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 anti-entropy: materialize one real output file per day of the
    previous run, reconcile against the freshly produced key set (days
    that still clear the volume bar), and return the keys the pass
    actually DELETED from disk — the left-anti set, verified against
    DuckDB's EXCEPT over the same derivations."""
    from rca_data_tools_spark.sources.sinks import reconcile_outputs

    e = load_table(spark, sf_dir, "events")
    days = [r["d"] for r in e.select(F.to_date("ts").cast("string").alias("d")).distinct().collect()]
    out = tempfile.mkdtemp(prefix="rca_sink_recon_")
    os.makedirs(os.path.join(out, "plots"), exist_ok=True)
    for d in days:  # listing-scale: one tiny file per day partition
        with open(os.path.join(out, "plots", f"{d}.png"), "wb") as f:
            f.write(b"png")
    produced = (
        e.groupBy(F.to_date("ts").cast("string").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 340)
        .select(F.concat(F.lit("plots/"), "d", F.lit(".png")).alias("key"))
    )
    deleted = reconcile_outputs(spark, out, produced)
    return local_rows_df(spark, [(k,) for k in deleted], "key string")


@query(
    "sink_json_index_roundtrip",
    oracle="""
SELECT 'plots/' || CAST(CAST(ts AS DATE) AS VARCHAR) || '.png' AS key,
       COUNT(*) AS n_events
FROM events GROUP BY 1
""",
)
def sink_json_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: build the per-day output index, write it through the JSON index
    sink, and return what a consumer READS BACK from the JSON files — the
    round trip (types included) is what the hash certifies."""
    from rca_data_tools_spark.sources.sinks import write_index_json

    e = load_table(spark, sf_dir, "events")
    idx = e.groupBy(
        F.concat(F.lit("plots/"), F.to_date("ts").cast("string"), F.lit(".png")).alias("key")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out = os.path.join(tempfile.mkdtemp(prefix="rca_sink_json_"), "index")
    write_index_json(idx, out)
    # schema-first read-back derived from the written frame: an empty
    # corpus writes an empty index, which JSON inference cannot type
    return spark.read.schema(idx.schema).json(out).select("key", "n_events")


@query(
    "sink_csv_roundtrip",
    oracle="""
SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
       MIN(event_id) AS first_event, MAX(event_id) AS last_event
FROM events GROUP BY 1
""",
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: the CSV export sink (header + typed read-back through the same
    engine schema — the reference's HITL/index CSV outputs)."""
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("user_id").alias("n_users"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )
    out = os.path.join(tempfile.mkdtemp(prefix="rca_sink_csv_"), "export")
    stats.write.mode("overwrite").option("header", "true").csv(out)
    return read_csv(
        spark,
        out,
        "event_type string, n bigint, n_users bigint, first_event bigint, last_event bigint",
    )


_CONFIG_CSV = (
    "canonical,candidates\n"
    "temperature,seawater_temperature|temp_b\n"
    "pressure,pres_x|pres_y\n"
)


@query(
    "catalog_variable_resolution",
    oracle="""
WITH data AS (
  SELECT CASE WHEN event_type = 'click' THEN value END AS temp_b,
         CASE WHEN event_type = 'view' THEN value END AS pres_x,
         CASE WHEN event_type IN ('view', 'purchase') THEN value * 2 END AS pres_y
  FROM events
)
SELECT 'temperature' AS canonical, 'temp_b' AS resolved_from,
       COUNT(temp_b) AS n_nonnull,
       MIN(ROUND(temp_b, 6)) AS min_v, MAX(ROUND(temp_b, 6)) AS max_v
FROM data
UNION ALL
SELECT 'pressure', 'pres_x|pres_y',
       COUNT(COALESCE(pres_x, pres_y)),
       MIN(ROUND(COALESCE(pres_x, pres_y), 6)),
       MAX(ROUND(COALESCE(pres_x, pres_y), 6))
FROM data
""",
)
def catalog_variable_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: config CSV -> broadcast dim -> per-dataset variable resolution
    (the SURVEY §7 'dynamic schema resolution' hard part). The candidate
    lists come from a config CSV loaded through the catalog (written to
    scratch, parsed by the engine's CSV path); 'temperature' exercises the
    first-present-candidate pick (its first candidate is absent from the
    dataset), 'pressure' the multi-present coalesce-in-priority-order path.
    Reference: params/variableMap.csv resolution at qaqc/plots.py:220-232."""
    from rca_data_tools_spark.catalog import (
        load_config_csv,
        resolve_or_coalesce,
    )

    cfg_path = os.path.join(tempfile.mkdtemp(prefix="rca_cfg_"), "variableMap.csv")
    with open(cfg_path, "w") as f:
        f.write(_CONFIG_CSV)
    cfg = load_config_csv(spark, cfg_path, "canonical string, candidates string")
    config_rows = cfg.collect()  # config-sized dim: rows ARE the plan input

    e = load_table(spark, sf_dir, "events")
    data = e.select(
        F.when(F.col("event_type") == "click", F.col("value")).alias("temp_b"),
        F.when(F.col("event_type") == "view", F.col("value")).alias("pres_x"),
        F.when(
            F.col("event_type").isin("view", "purchase"), F.col("value") * 2
        ).alias("pres_y"),
    )
    parts = []
    for row in config_rows:
        cands = row["candidates"].split("|")
        col = resolve_or_coalesce(data, cands)
        resolved_from = "|".join(c for c in cands if c in data.columns)
        parts.append(
            data.agg(
                F.count(col).alias("n_nonnull"),
                F.min(F.round(col, 6)).alias("min_v"),
                F.max(F.round(col, 6)).alias("max_v"),
            ).select(
                F.lit(row["canonical"]).alias("canonical"),
                F.lit(resolved_from).alias("resolved_from"),
                "n_nonnull",
                "min_v",
                "max_v",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_DEPLOY_CSV = (
    "ref_des,deployment,start_ts,stop_ts,depth_m\n"
    "CE04OSBP-LJ01C-06-CTDBPO108,4,2021-06-20T10:00:00,2022-07-01T00:00:00,581.0\n"
    "CE04OSBP-LJ01C-06-CTDBPO108,5,2022-07-01T12:30:00,,581.0\n"
    "RS01SBPS-SF01A-2A-CTDPFA102,9,2023-08-15T06:15:00,2024-06-30T23:59:59,29.5\n"
    "RS03AXPS-SF03A-2A-CTDPFA302,7,2023-09-01T00:00:00,,195.0\n"
)


@query(
    "ingest_http_csv",
    oracle="""
SELECT * FROM (VALUES
  ('CE04OSBP-LJ01C-06-CTDBPO108', 4, TIMESTAMP '2021-06-20 10:00:00',
   TIMESTAMP '2022-07-01 00:00:00', 581.0),
  ('CE04OSBP-LJ01C-06-CTDBPO108', 5, TIMESTAMP '2022-07-01 12:30:00',
   NULL, 581.0),
  ('RS01SBPS-SF01A-2A-CTDPFA102', 9, TIMESTAMP '2023-08-15 06:15:00',
   TIMESTAMP '2024-06-30 23:59:59', 29.5),
  ('RS03AXPS-SF03A-2A-CTDPFA302', 7, TIMESTAMP '2023-09-01 00:00:00',
   NULL, 195.0)
) AS t(ref_des, deployment, start_ts, stop_ts, depth_m)
""",
)
def ingest_http_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S4: the deployments-table ingest — fetch a CSV over a LIVE HTTP
    socket (localhost server stood up for the duration of the fetch), land
    it, and parse through the engine's schema-first CSV path: typed
    timestamps, open-ended deployments (empty stop) as NULL. The oracle is
    the expected-literal table a correct fetch+parse must produce."""
    import http.server
    import threading
    import urllib.request

    payload = _DEPLOY_CSV.encode()

    class _H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _H)
    t = threading.Thread(
        target=lambda: srv.serve_forever(poll_interval=0.02), daemon=True
    )
    t.start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/deployments.csv"
        with urllib.request.urlopen(url, timeout=10) as r:
            body = r.read()
    finally:
        srv.shutdown()
        srv.server_close()
    local = os.path.join(tempfile.mkdtemp(prefix="rca_http_csv_"), "deployments.csv")
    with open(local, "wb") as f:
        f.write(body)
    return read_csv(
        spark,
        local,
        "ref_des string, deployment int, start_ts timestamp, stop_ts timestamp, depth_m double",
    )


_CAM_LISTING = """<html><body><pre>
<a href="/rawdata/CAMDSB103/">Parent Directory</a>                        -
<a href="CAMDSB103_20240105T000000.jpg">CAMDSB103_20240105T000000.jpg</a> 2024-01-05 00:01  1.2M
<a href="CAMDSB103_20240105T010000.jpg">CAMDSB103_20240105T010000.jpg</a> 2024-01-05 01:01  340K
<a href="CAMDSB103_20240105T020000.jpg">CAMDSB103_20240105T020000.jpg</a> 2024-01-05 02:01  bogus
</pre></body></html>"""

_CAMHD_LISTING = """<html><body><pre>
<a href="/rawdata/CAMHDA301/">Parent Directory</a>  -
<a href="CAMHDA301_video.mp4">CAMHDA301_video.mp4</a> 2024-01-06 00:01  2.1G
<a href="CAMHDA301_video.mp4.md5">CAMHDA301_video.mp4.md5</a> 2024-01-06 00:01  33
<a href="CAMHDA301_still.jpg">CAMHDA301_still.jpg</a> 2024-01-06 00:02  900K
</pre></body></html>"""


@query(
    "ingest_html_camera_index",
    oracle="""
SELECT * FROM (VALUES
  ('https://cam/CAMDSB103/', 'CAMDSB103_20240105T000000.jpg', '1.2M',
   TIMESTAMP '2024-01-05 00:00:00', 1.2 * (1000000.0 / 1048576.0), 'not_blank'),
  ('https://cam/CAMDSB103/', 'CAMDSB103_20240105T010000.jpg', '340K',
   TIMESTAMP '2024-01-05 00:00:00', 340.0 * (1000.0 / 1048576.0), 'possibly_blank'),
  ('https://cam/CAMDSB103/', 'CAMDSB103_20240105T020000.jpg', 'bogus',
   TIMESTAMP '2024-01-05 00:00:00', NULL, 'not_blank'),
  ('https://rawdata/CAMHDA301/', 'CAMHDA301_still.jpg', '900K',
   TIMESTAMP '2024-01-06 00:00:00', 900.0 * (1000.0 / 1048576.0), 'possibly_blank')
) AS t(base_url, img_name, size, date_taken, size_mb, image_status)
""",
)
def ingest_html_camera_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: the camera-archive HTML index scrape — two day pages (a stills
    camera and a CAMHD archive whose mp4/md5 sidecars must drop) parse
    distributed through mapInPandas; sizes convert with humanfriendly
    semantics (decimal k=1000 reported in MiB), sub-cutoff images flag
    ``possibly_blank`` and unparseable sizes stay ``not_blank``
    (visual_data.py:76-79). Oracle = the expected-literal parse."""
    from rca_data_tools_spark.sources.ingest import ingest_camera_index

    pages = local_rows_df(spark,
        [
            ("https://cam/CAMDSB103/", "2024/01/05/", _CAM_LISTING),
            ("https://rawdata/CAMHDA301/", "2024/01/06/", _CAMHD_LISTING),
        ],
        "base_url string, str_date string, html string",
    )
    return ingest_camera_index(spark, pages, img_size_cutoff_mb=1.0)


_HITL_SHEETS = {
    "CTDBP": [
        {"Stage": "2", "Flag": "1,4", "Unnamed: 3": "junk", "Note": "drift, then ok"},
        {"Stage": "3", "Flag": "9", "Unnamed: 3": "junk2", "Note": None},
    ],
    "PHSEN": [
        {"Stage": "1", "Note": "biofouling suspected"},
    ],
}


@query(
    "ingest_sheet_hitl",
    oracle="""
SELECT * FROM (VALUES
  ('CTDBP', 'Stage', 0, '2'),
  ('CTDBP', 'Stage', 1, '3'),
  ('CTDBP', 'Flag', 0, '1.4'),
  ('CTDBP', 'Flag', 1, '9'),
  ('CTDBP', 'Note', 0, 'drift. then ok'),
  ('PHSEN', 'Stage', 0, '1'),
  ('PHSEN', 'Note', 0, 'biofouling suspected')
) AS t(sheet, field, record_idx, value)
""",
)
def ingest_sheet_hitl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: HITL spreadsheet ingest — Unnamed columns dropped, records
    transposed to long form, comma->dot cleanup, absent keys (None/NaN)
    skipped (notes.py:52-63). Oracle = the expected-literal long form."""
    from rca_data_tools_spark.sources.ingest import ingest_hitl_sheets

    return ingest_hitl_sheets(spark, _HITL_SHEETS)


@query(
    "ingest_status_degrade",
    oracle="""
SELECT * FROM (VALUES
  ('SITE01', 'live',     'OPERATIONAL'),
  ('SITE02', 'live',     'UNAVAILABLE'),
  ('SITE03', 'live',     'OFFLINE'),
  ('SITE01', 'degraded', 'UNAVAILABLE'),
  ('SITE02', 'degraded', 'UNAVAILABLE'),
  ('SITE03', 'degraded', 'UNAVAILABLE')
) AS t(site, feed, status)
""",
)
def ingest_status_degrade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 with the degrade-to-empty contract (reference
    qaqc/dashboard.py:290-302 loadStatus): the SAME overlay is driven twice —
    once against a LIVE localhost status feed (sites present take the feed
    value, absent sites fall back to 'UNAVAILABLE') and once against a dead
    endpoint (connection refused -> EMPTY typed dim -> every site
    'UNAVAILABLE', no exception). The oracle is the expected-literal table a
    correct fetch+degrade+overlay must produce; a hash match certifies both
    the happy parse and the outage path."""
    import http.server
    import json
    import threading

    from rca_data_tools_spark.sources.ingest import ingest_status_json, status_overlay

    payload = json.dumps({"SITE01": "OPERATIONAL", "SITE03": "OFFLINE"}).encode()

    class _H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _H)
    threading.Thread(
        target=lambda: srv.serve_forever(poll_interval=0.02), daemon=True
    ).start()
    try:
        live = ingest_status_json(
            spark, f"http://127.0.0.1:{srv.server_address[1]}/api/status"
        )
        live_rows = live.collect()  # fetch before the server goes away
    finally:
        srv.shutdown()
        srv.server_close()
    live = local_rows_df(spark, live_rows, "site string, status string")
    # dead endpoint: discard port, nothing listens -> degrade to empty
    degraded = ingest_status_json(spark, "http://127.0.0.1:9/api/status", timeout=0.5)

    sites = local_rows_df(spark, [("SITE01",), ("SITE02",), ("SITE03",)], "site string")
    out_live = status_overlay(sites, live).withColumn("feed", F.lit("live"))
    out_dead = status_overlay(sites, degraded).withColumn("feed", F.lit("degraded"))
    return out_live.unionByName(out_dead).select("site", "feed", "status")


@query(
    "sink_zarr_roundtrip",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
       MAX(user_id) AS max_user,
       MIN(epoch_ns(ts)) AS min_ts_ns,
       MAX(epoch_ns(ts)) AS max_ts_ns
FROM events
""",
)
def sink_zarr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native-format WRITE lifecycle: the events table is written as a Zarr
    v2 store by the distributed writer (sources/zarr_sink.write_zarr_v2 —
    one executor task per chunk, consolidated metadata, edge-chunk
    padding), read BACK through the engine's native Zarr scan
    (sources/zarr.zarr_table), and aggregated; the oracle computes the
    same aggregate straight from the parquet table. A hash match therefore
    certifies the full write + layout + read-back + typing loop — raw
    IEEE doubles and epoch-ns timestamps must survive bit-for-bit.

    Scale shape: the write is chunk-parallel (groupBy chunk id, bounded
    per-task memory), the read is chunk-parallel, and the aggregate is
    map-side combined. The dense storage index comes from the DISTRIBUTED
    global row number (operators/ranking.global_row_number — range shuffle
    + parallel per-partition windows + broadcast offsets), never the
    single-partition window Spark plans for a bare orderBy."""
    from rca_data_tools_spark.functions.numeric import dsum
    from rca_data_tools_spark.operators.ranking import global_row_number
    from rca_data_tools_spark.sources.zarr import zarr_table
    from rca_data_tools_spark.sources.zarr_sink import write_zarr_v2

    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    if not e.head(1):  # limit-1 collect: no agg exchange, ~4x cheaper probe
        # empty-window contract (the engine-wide "No Data Available" rule):
        # nothing to write — the writer refuses empty stores by design, so
        # aggregate the empty frame directly; same 1-row 0/NULL result the
        # oracle produces over zero rows
        back = e.select(
            F.unix_micros("ts") * 1000, F.col("user_id"), F.col("value")
        ).toDF("ts", "user_id", "value")
    else:
        staged = global_row_number(e, [F.col("ts"), F.col("event_id")], rank_col="__rank")
        staged = staged.withColumn("idx", F.col("__rank") - 1)
        root = os.path.join(tempfile.mkdtemp(prefix="rca_zarr_sink_"), "events.zarr")
        write_zarr_v2(staged, root, "idx", ["ts", "user_id", "value"], chunk_rows=4096)
        back = zarr_table(spark, root, ["ts", "user_id", "value"])
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value").alias("sum_value"),
        F.max("user_id").cast("long").alias("max_user"),
        F.min("ts").cast("long").alias("min_ts_ns"),
        F.max("ts").cast("long").alias("max_ts_ns"),
    )


@query(
    "sink_hdf5_roundtrip",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
       MAX(user_id) AS max_user,
       MIN(epoch_ns(ts)) AS min_ts_ns,
       MAX(epoch_ns(ts)) AS max_ts_ns
FROM events
""",
)
def sink_hdf5_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDF5 (NetCDF-4 container) WRITE lifecycle — completing the writer
    matrix (Zarr v2/v3, classic CDF, HDF5): events written as an HDF5 file
    by the distributed writer (sources/hdf5_sink.write_hdf5 — superblock
    v0, v1 object headers, old-style root group, contiguous little-endian
    datasets; executors pwrite row-slices at driver-computed offsets),
    read BACK through the engine's native HDF5 scan (netcdf_table routes
    by the \\x89HDF signature), aggregated, and hash-matched against the
    parquet truth — header + symbol table + layout + read-back typing
    certified end-to-end, epoch-ns int64 exact."""
    from rca_data_tools_spark.functions.numeric import dsum
    from rca_data_tools_spark.operators.ranking import global_row_number
    from rca_data_tools_spark.sources.hdf5_sink import write_hdf5
    from rca_data_tools_spark.sources.netcdf import netcdf_table

    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    if not e.head(1):  # limit-1 collect: no agg exchange, ~4x cheaper probe
        back = e.select(
            F.unix_micros("ts") * 1000, F.col("user_id"), F.col("value")
        ).toDF("ts", "user_id", "value")
    else:
        staged = global_row_number(e, [F.col("ts"), F.col("event_id")], rank_col="__rank")
        staged = staged.withColumn("idx", F.col("__rank") - 1)
        path = os.path.join(tempfile.mkdtemp(prefix="rca_h5_sink_"), "events.h5")
        write_hdf5(staged, path, "idx", ["ts", "user_id", "value"], rows_per_task=4096)
        back = netcdf_table(spark, path, ["ts", "user_id", "value"])
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value").alias("sum_value"),
        F.max("user_id").cast("long").alias("max_user"),
        F.min("ts").cast("long").alias("min_ts_ns"),
        F.max("ts").cast("long").alias("max_ts_ns"),
    )


@query(
    "sink_zarr_v3_roundtrip",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
       MAX(user_id) AS max_user,
       MIN(epoch_ns(ts)) AS min_ts_ns,
       MAX(epoch_ns(ts)) AS max_ts_ns
FROM events
""",
)
def sink_zarr_v3_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zarr **v3 sharded** WRITE lifecycle: events written as a Zarr v3
    store by the distributed writer (sources/zarr_sink.write_zarr_v3 —
    ``sharding_indexed`` codec, 4096-row shards of 512-row gzip inner
    chunks with a crc32c-protected offset index, consolidated metadata in
    the root group document), read BACK through the engine's native v3
    scan (sources/zarr.zarr_table -> _decode_shard), aggregated, and
    hash-matched against the parquet truth. Certifies the v3 write + shard
    packing + index crc + read-back + int64-identity loop end-to-end —
    epoch-ns timestamps above 2^53 must survive bit-for-bit.

    Scale shape: sharding is THE v3 object-store layout (few large PUTs,
    ranged GETs per inner chunk); the write is shard-parallel (groupBy
    shard id, bounded per-task memory) and the read decodes inner chunks
    per outer task, so both sides parallelize across the shard grid."""
    from rca_data_tools_spark.functions.numeric import dsum
    from rca_data_tools_spark.operators.ranking import global_row_number
    from rca_data_tools_spark.sources.zarr import zarr_table
    from rca_data_tools_spark.sources.zarr_sink import write_zarr_v3

    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    if not e.head(1):  # limit-1 collect: no agg exchange, ~4x cheaper probe
        back = e.select(
            F.unix_micros("ts") * 1000, F.col("user_id"), F.col("value")
        ).toDF("ts", "user_id", "value")
    else:
        staged = global_row_number(e, [F.col("ts"), F.col("event_id")], rank_col="__rank")
        staged = staged.withColumn("idx", F.col("__rank") - 1)
        root = os.path.join(tempfile.mkdtemp(prefix="rca_zarr3_sink_"), "events.zarr")
        write_zarr_v3(
            staged, root, "idx", ["ts", "user_id", "value"],
            chunk_rows=4096, inner_rows=512,
        )
        back = zarr_table(spark, root, ["ts", "user_id", "value"])
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value").alias("sum_value"),
        F.max("user_id").cast("long").alias("max_user"),
        F.min("ts").cast("long").alias("min_ts_ns"),
        F.max("ts").cast("long").alias("max_ts_ns"),
    )


@query(
    "sink_netcdf_roundtrip",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
       MAX(user_id) AS max_user,
       MIN(epoch_ns(ts)) AS min_ts_ns,
       MAX(epoch_ns(ts)) AS max_ts_ns
FROM events
""",
)
def sink_netcdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic-NetCDF WRITE lifecycle (the sibling of sink_zarr_roundtrip):
    events written as a CDF-5 file by the distributed writer
    (sources/netcdf_sink.write_cdf — executors pwrite row-slices at
    driver-computed offsets, no record interleaving), read BACK through the
    native CDF scan (sources/netcdf.netcdf_table), aggregated, and
    hash-matched against the parquet truth — write + header + layout +
    read-back typing certified end-to-end, epoch-ns exact."""
    from rca_data_tools_spark.functions.numeric import dsum
    from rca_data_tools_spark.operators.ranking import global_row_number
    from rca_data_tools_spark.sources.netcdf import netcdf_table
    from rca_data_tools_spark.sources.netcdf_sink import write_cdf

    e = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    if not e.head(1):  # limit-1 collect: no agg exchange, ~4x cheaper probe
        back = e.select(
            F.unix_micros("ts") * 1000, F.col("user_id"), F.col("value")
        ).toDF("ts", "user_id", "value")
    else:
        staged = global_row_number(
            e, [F.col("ts"), F.col("event_id")], rank_col="__rank"
        ).withColumn("idx", F.col("__rank") - 1)
        path = os.path.join(tempfile.mkdtemp(prefix="rca_cdf_sink_"), "events.nc")
        write_cdf(staged, path, "idx", ["ts", "user_id", "value"], rows_per_task=4096)
        back = netcdf_table(spark, path, ["ts", "user_id", "value"])
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value").alias("sum_value"),
        F.max("user_id").cast("long").alias("max_user"),
        F.min("ts").cast("long").alias("min_ts_ns"),
        F.max("ts").cast("long").alias("max_ts_ns"),
    )


@query(
    "sink_compact_roundtrip",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(1 AS BOOLEAN) AS compacted
FROM events
""",
)
def sink_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction lifecycle: events are deliberately written as
    64 tiny files (the micro-batch-append pathology), compacted to
    target-size files (sources/sinks.compact_partitioned — ceil(total/
    target) coalesce + atomic directory swap), and read back; the oracle is
    the straight aggregate of the source table plus the asserted layout
    verdict. A hash match certifies that compaction changed the FILE COUNT
    (verdict column computed from the returned before/after stats) while
    changing nothing a scan returns."""
    from rca_data_tools_spark.sources.sinks import compact_partitioned

    e = load_table(spark, sf_dir, "events").select("ts", "user_id", "value")
    out_dir = os.path.join(tempfile.mkdtemp(prefix="rca_compact_"), "events_small")
    e.repartition(64).write.mode("overwrite").parquet(out_dir)
    stats = compact_partitioned(spark, out_dir, target_bytes=64 * 1024 * 1024)
    back = spark.read.parquet(out_dir)
    compacted = stats["files_after"] < stats["files_before"]
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("value"), 6).cast("decimal(28,6)")).cast("double").alias("sum_value"),
        F.count_distinct("user_id").alias("n_users"),
        F.lit(bool(compacted)).alias("compacted"),
    )


@query(
    "sink_merge_upsert",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), refresh AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 50 GROUP BY 1, 2
  ) WHERE d >= '{_CUTOFF}'
)
-- MERGE semantics at ROW granularity: a (d, event_type) row survives
-- unless the source carries that exact key — unlike partition overwrite,
-- same-day rows with no source counterpart are preserved
SELECT f.d, f.event_type, f.n, f.n_users FROM full_run f
WHERE NOT EXISTS (
  SELECT 1 FROM refresh r WHERE r.d = f.d AND r.event_type = f.event_type
)
UNION ALL
SELECT d, event_type, n, n_users FROM refresh
""",
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse MERGE-INTO upsert lifecycle: the full daily rollup is
    written as the target table, a corrected rollup (value > 50, days >=
    cutoff) MERGEs in — matched (d, event_type) keys take the source row,
    source-only keys insert, everything else survives untouched — and the
    merged table is written back and re-read. Row-granular where
    sink_partition_overwrite is partition-granular: a (day, type) with no
    source row survives even inside a refreshed day.

    Scale shape: merge_upsert is one anti-join + union (one shuffle per
    side on the key, no windows, no driver loops); the write-back is the
    copy-on-write half a table format would prune by file (zone maps,
    layout_zonemap_prune) — same logic, fewer rewritten bytes."""
    from rca_data_tools_spark.sources.sinks import merge_upsert, write_partitioned

    e = load_table(spark, sf_dir, "events")
    target_dir = tempfile.mkdtemp(prefix="rca_merge_target_")
    daily = _daily(e)
    write_partitioned(daily, target_dir, ["d"])
    part_last = daily.select("event_type", "n", "n_users", "d").schema
    target = spark.read.schema(part_last).parquet(target_dir)

    source = _daily(e.filter(F.col("value") > 50)).filter(F.col("d") >= _CUTOFF)
    merged = merge_upsert(
        target.select("d", "event_type", "n", "n_users"),
        source.select("d", "event_type", "n", "n_users"),
        ["d", "event_type"],
    )
    out_dir = tempfile.mkdtemp(prefix="rca_merge_out_")
    write_partitioned(merged, out_dir, ["d"])
    back = spark.read.schema(part_last).parquet(out_dir)
    return back.select("d", "event_type", "n", "n_users")


_ZM_LO, _ZM_HI = 120.0, 200.0


@query(
    "layout_zonemap_prune",
    oracle=f"""
WITH b AS (
  SELECT LEAST(15, GREATEST(0, CAST(FLOOR(value / 32.0) AS INT))) AS bucket, value
  FROM events WHERE value IS NOT NULL
), zm AS (
  SELECT bucket, MIN(value) AS mn, MAX(value) AS mx FROM b GROUP BY bucket
)
SELECT
  (SELECT COUNT(*) FROM zm) AS files_total,
  (SELECT COUNT(*) FROM zm WHERE mn <= {_ZM_HI} AND mx >= {_ZM_LO}) AS files_scanned,
  (SELECT COUNT(*) FROM b WHERE value BETWEEN {_ZM_LO} AND {_ZM_HI}) AS n_rows,
  (SELECT CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
     FROM b WHERE value BETWEEN {_ZM_LO} AND {_ZM_HI}) AS sum_value
""",
)
def layout_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping — the file-level min/max pruning every table
    format (Delta/Iceberg/Hudi) and parquet footer stats rely on: events
    are laid out value-clustered (one file per value bucket), a stats pass
    builds the per-FILE (min, max) zone map from the actual files
    (input_file_name groupBy — the stats-collection job), the predicate
    ``value BETWEEN 120 AND 200`` prunes to files whose range overlaps,
    and ONLY those files are re-opened for the real scan. Returns the
    pruning verdict (files_total, files_scanned) plus the matched rows'
    count/decimal-sum so the oracle certifies both the skipping arithmetic
    and that pruning lost no rows.

    Scale shape: clustering is one shuffle at write time; the zone map is
    files-sized (KBs at 100 TB), built scan-parallel and collected as one
    tiny list; the pruned scan opens len(selected) files instead of all —
    the same reason the reference's consolidated stores carry per-chunk
    coordinate bounds. Correctness does not depend on pruning: a file
    overlapping the range but holding no matching rows is scanned and
    filtered, exactly like a parquet row-group whose stats overlap."""
    from rca_data_tools_spark.functions.numeric import dsum

    e = load_table(spark, sf_dir, "events").select("event_id", "value").filter(
        F.col("value").isNotNull()
    )
    bucket = F.least(
        F.lit(15), F.greatest(F.lit(0), F.floor(F.col("value") / 32.0).cast("int"))
    )
    out = os.path.join(tempfile.mkdtemp(prefix="rca_zonemap_"), "events_clustered")
    # one file per bucket: hash-repartition ON the bucket, then partitionBy
    staged = e.withColumn("bucket", bucket).repartition(16, "bucket")
    staged.write.mode("overwrite").partitionBy("bucket").parquet(out)

    schema = staged.select("event_id", "value", "bucket").schema
    back = spark.read.schema(schema).parquet(out)
    zone_map = [
        (r["f"], r["mn"], r["mx"])
        for r in back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
        .collect()
    ]
    selected = [f for f, mn, mx in zone_map if mn <= _ZM_HI and mx >= _ZM_LO]
    if selected:
        pruned = spark.read.schema(schema).parquet(*selected)
        agg = pruned.filter(F.col("value").between(_ZM_LO, _ZM_HI)).agg(
            F.count(F.lit(1)).alias("n_rows"), dsum("value").alias("sum_value")
        )
    else:
        agg = back.filter(F.lit(False)).agg(
            F.count(F.lit(1)).alias("n_rows"), dsum("value").alias("sum_value")
        )
    return agg.select(
        F.lit(len(zone_map)).cast("long").alias("files_total"),
        F.lit(len(selected)).cast("long").alias("files_scanned"),
        F.col("n_rows").cast("long"),
        "sum_value",
    )


_MP_B = 1024  # event_id bucket width -> one target file per bucket


@query(
    "sink_merge_prune_roundtrip",
    oracle=f"""
WITH t AS (SELECT event_id, user_id, value FROM events),
mx AS (SELECT MAX(event_id) AS m FROM t),
upd AS (
  SELECT event_id, user_id, value + 1000 AS value
  FROM t, mx WHERE event_id >= m - {2 * _MP_B - 1}
),
ins AS (
  SELECT event_id + m + 1 AS event_id, user_id, value
  FROM t, mx WHERE event_id < {_MP_B // 2}
),
src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
merged AS (
  SELECT * FROM t
  WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.event_id = t.event_id)
  UNION ALL SELECT * FROM src
)
SELECT
  (SELECT COUNT(DISTINCT CAST(FLOOR(event_id / {_MP_B}.0) AS BIGINT)) FROM t)
    AS files_total,
  (SELECT COUNT(DISTINCT CAST(FLOOR(t.event_id / {_MP_B}.0) AS BIGINT))
     FROM t JOIN src ON t.event_id = src.event_id) AS files_rewritten,
  (SELECT COUNT(*) FROM merged) AS n_rows,
  (SELECT CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) FROM merged)
    AS sum_value,
  (SELECT MAX(event_id) FROM merged) AS max_event
""",
)
def sink_merge_prune_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write file-pruned MERGE (VERDICT r07 item 5): events are
    laid out one file per event_id range bucket (the clustered table), a
    source batch of UPDATES (top two-and-a-bit buckets of ids, value
    corrected by +1000) and INSERTS (fresh ids past the max) MERGEs in via
    sinks.merge_upsert_pruned — zone map -> candidate files -> exact
    matched-file check -> rewrite ONLY those files into the new table
    version, hardlinking every untouched file — and the new version is
    read back whole. The oracle recomputes files_total / files_rewritten
    from the deterministic bucket rule and the merged content from pure
    SQL, so a hash match certifies both that pruning rewrote strictly
    fewer files than the table holds AND that the pruned rewrite lost no
    row, update, or insert.

    Scale shape: the zone map is files-sized metadata (a format reads it
    from manifests — the one data scan here stands in for that); source
    keys broadcast against it; only matched files' rows join the MERGE
    anti-join. At 100 TB with daily corrections touching recent ranges,
    the rewrite is O(touched files), not O(table) — the entire point of
    copy-on-write formats."""
    from rca_data_tools_spark.functions.numeric import dsum
    from rca_data_tools_spark.sources.sinks import merge_upsert_pruned

    ddl = "event_id long, user_id long, value double"
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    tmp = tempfile.mkdtemp(prefix="rca_mergeprune_")

    # clustered target: one file per event_id bucket (repartition on the
    # bucket puts each bucket in exactly one task; partitionBy then emits
    # exactly one file per bucket, flattened to a flat file-per-range dir)
    staging = os.path.join(tmp, "staging")
    bucket = F.floor(F.col("event_id") / _MP_B).cast("long")
    e.withColumn("bucket", bucket).repartition(32, "bucket").write.partitionBy(
        "bucket"
    ).parquet(staging)
    target_dir = os.path.join(tmp, "v0")
    os.makedirs(target_dir)
    for d in os.listdir(staging):
        if not d.startswith("bucket="):
            continue
        parts = [f for f in os.listdir(os.path.join(staging, d)) if f.endswith(".parquet")]
        if len(parts) != 1:
            raise AssertionError(f"expected one file per bucket, {d} has {parts}")
        os.rename(
            os.path.join(staging, d, parts[0]),
            os.path.join(target_dir, f"{d.replace('=', '-')}.parquet"),
        )

    # empty corpus: no max id — m=0 makes both source branches empty and the
    # merge degrades to the empty-but-well-typed aggregate row (the S8
    # empty-slice contract, tests/test_empty_corpus.py)
    max_id = e.agg(F.max("event_id")).collect()[0][0]
    m = int(max_id) if max_id is not None else 0
    updates = e.filter(F.col("event_id") >= m - (2 * _MP_B - 1)).select(
        "event_id", "user_id", (F.col("value") + F.lit(1000.0)).alias("value")
    )
    inserts = e.filter(F.col("event_id") < _MP_B // 2).select(
        (F.col("event_id") + F.lit(m + 1)).alias("event_id"), "user_id", "value"
    )
    out_dir = os.path.join(tmp, "v1")
    stats = merge_upsert_pruned(
        spark, target_dir, out_dir, updates.unionByName(inserts), ["event_id"], ddl
    )
    back = spark.read.schema(ddl).parquet(out_dir)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value").alias("sum_value"),
        F.max("event_id").alias("max_event"),
    ).select(
        F.lit(stats["files_total"]).cast("long").alias("files_total"),
        F.lit(stats["files_rewritten"]).cast("long").alias("files_rewritten"),
        F.col("n_rows").cast("long"),
        "sum_value",
        "max_event",
    )


_SM_CUT1, _SM_CUT2 = "2024-01-12", "2024-01-20"


@query(
    "streaming_merge_upsert",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), b1 AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 30 GROUP BY 1, 2
  ) WHERE d >= '{_SM_CUT1}'
), b2 AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 60 GROUP BY 1, 2
  ) WHERE d >= '{_SM_CUT2}'
)
-- sequential MERGE semantics: the LAST batch carrying a key wins; keys no
-- batch carried survive from the initial table
SELECT f.d, f.event_type, f.n, f.n_users FROM full_run f
WHERE NOT EXISTS (SELECT 1 FROM b1 WHERE b1.d = f.d AND b1.event_type = f.event_type)
  AND NOT EXISTS (SELECT 1 FROM b2 WHERE b2.d = f.d AND b2.event_type = f.event_type)
UNION ALL
SELECT o.d, o.event_type, o.n, o.n_users FROM b1 o
WHERE NOT EXISTS (SELECT 1 FROM b2 WHERE b2.d = o.d AND b2.event_type = o.event_type)
UNION ALL
SELECT d, event_type, n, n_users FROM b2
""",
)
def streaming_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming ingest-to-merge: the daily rollup is the
    initial table version (v0); two correction batches land as separate
    files in a feed directory (mtimes force arrival order);
    ``readStream(maxFilesPerTrigger=1)`` + availableNow drains them as two
    micro-batches through streaming/joins.stream_merge_upsert — each
    foreachBatch MERGEs row-granularly into the latest version and commits
    a new copy-on-write version directory (v1, v2) with untouched files
    hardlinked. The final version is read back whole; the oracle replays
    the two merges sequentially in SQL (last batch carrying a key wins),
    so a hash match certifies exactly-once row states ACROSS micro-batch
    boundaries, not just within one. Batch-boundary misdelivery cannot
    pass silently: overlapping keys landing in ONE batch trip the MERGE
    duplicate-key check and the query errors loudly.

    Scale shape: per micro-batch cost is merge_upsert_pruned's — zone-map
    candidate files, one anti-join of only the matched files' rows, new
    parts + hardlinks; the stream never holds state (the table IS the
    state), so a day of corrections against a 100 TB table is O(touched
    files) per batch."""
    from rca_data_tools_spark.streaming.joins import stream_merge_upsert

    ddl = "d string, event_type string, n bigint, n_users bigint"
    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="rca_stream_merge_")

    feed = os.path.join(root, "feed")
    os.makedirs(feed)
    batches = [
        _daily(e.filter(F.col("value") > 30)).filter(F.col("d") >= _SM_CUT1),
        _daily(e.filter(F.col("value") > 60)).filter(F.col("d") >= _SM_CUT2),
    ]
    # v0 build and the one-job feed staging are independent: run them from a
    # 2-thread pool so the second job's tasks back-fill the first's idle
    # cores (guide §2.6); the feed batches themselves staged in ONE job
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fv = pool.submit(
            lambda: _daily(e)
            .select("d", "event_type", "n", "n_users")
            .write.parquet(os.path.join(root, "v0"))
        )
        ff = pool.submit(
            _stage_feed_files,
            spark,
            [b.select("d", "event_type", "n", "n_users") for b in batches],
            ddl,
            [os.path.join(feed, f"batch-{i}.parquet") for i in range(2)],
            True,
        )
        fv.result()
        ff.result()

    stream = (
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(feed)
    )
    q = stream_merge_upsert(
        stream, root, ["d", "event_type"], ddl, os.path.join(root, "ckpt")
    )
    q.awaitTermination()
    latest = max(
        int(d[1:]) for d in os.listdir(root) if d.startswith("v") and d[1:].isdigit()
    )
    back = spark.read.schema(ddl).parquet(os.path.join(root, f"v{latest}"))
    return back.select("d", "event_type", "n", "n_users")


@query(
    "sink_merge_history",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), b1 AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 30 GROUP BY 1, 2
  ) WHERE d >= '{_SM_CUT1}'
), b2 AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 60 GROUP BY 1, 2
  ) WHERE d >= '{_SM_CUT2}'
), v1 AS (
  SELECT f.d, f.event_type, f.n, f.n_users FROM full_run f
  WHERE NOT EXISTS (SELECT 1 FROM b1 WHERE b1.d = f.d AND b1.event_type = f.event_type)
  UNION ALL SELECT d, event_type, n, n_users FROM b1
), v2 AS (
  SELECT s.d, s.event_type, s.n, s.n_users FROM v1 s
  WHERE NOT EXISTS (SELECT 1 FROM b2 WHERE b2.d = s.d AND b2.event_type = s.event_type)
  UNION ALL SELECT d, event_type, n, n_users FROM b2
)
SELECT 0 AS version, COUNT(*) AS n_rows,
       CAST(SUM(n) AS BIGINT) AS sum_n, CAST(SUM(n_users) AS BIGINT) AS sum_users
FROM full_run
UNION ALL
SELECT 1, COUNT(*), CAST(SUM(n) AS BIGINT), CAST(SUM(n_users) AS BIGINT) FROM v1
UNION ALL
SELECT 2, COUNT(*), CAST(SUM(n) AS BIGINT), CAST(SUM(n_users) AS BIGINT) FROM v2
""",
)
def sink_merge_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the copy-on-write table: two sequential file-pruned
    MERGEs produce immutable versions v0 -> v1 -> v2 (untouched files
    hardlinked forward), and the query reads ALL THREE versions back —
    returning per-version aggregates that the oracle recomputes from the
    sequential-merge SQL replay. A hash match certifies snapshot isolation:
    creating v2 did not disturb v0/v1 (their rows still aggregate to the
    pre-merge states), which is exactly the time-travel contract a format's
    snapshot log gives — here carried by the version directories.

    Scale shape: each merge is merge_upsert_pruned (zone-map candidates,
    matched-file rewrite, hardlink carry-over), so N retained versions cost
    O(sum of touched files), not N full copies; reading a version is a
    plain parquet scan of its directory."""
    import functools

    from rca_data_tools_spark.sources.sinks import merge_upsert_pruned

    ddl = "d string, event_type string, n bigint, n_users bigint"
    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="rca_merge_hist_")
    daily = _daily(e).select("d", "event_type", "n", "n_users")
    daily.write.parquet(os.path.join(root, "v0"))
    b1 = _daily(e.filter(F.col("value") > 30)).filter(F.col("d") >= _SM_CUT1)
    b2 = _daily(e.filter(F.col("value") > 60)).filter(F.col("d") >= _SM_CUT2)
    merge_upsert_pruned(
        spark, os.path.join(root, "v0"), os.path.join(root, "v1"),
        b1.select("d", "event_type", "n", "n_users"), ["d", "event_type"], ddl,
    )
    merge_upsert_pruned(
        spark, os.path.join(root, "v1"), os.path.join(root, "v2"),
        b2.select("d", "event_type", "n", "n_users"), ["d", "event_type"], ddl,
    )
    parts = [
        spark.read.schema(ddl).parquet(os.path.join(root, f"v{v}")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n").alias("sum_n"),
            F.sum("n_users").alias("sum_users"),
        ).select(
            F.lit(v).cast("int").alias("version"),
            F.col("n_rows").cast("long"),
            F.col("sum_n").cast("long"),
            F.col("sum_users").cast("long"),
        )
        for v in (0, 1, 2)
    ]
    return functools.reduce(DataFrame.unionByName, parts)


@query(
    "sink_merge_changes",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), refresh AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 50 GROUP BY 1, 2
  ) WHERE d >= '{_CUTOFF}'
)
SELECT r.d, r.event_type,
       CASE WHEN f.d IS NULL THEN 'insert' ELSE 'update' END AS op,
       f.n AS before_n, r.n AS after_n,
       f.n_users AS before_n_users, r.n_users AS after_n_users
FROM refresh r
LEFT JOIN full_run f ON f.d = r.d AND f.event_type = r.event_type
""",
)
def sink_merge_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGE's change-data-feed (sinks.merge_changes, Delta CDF shape):
    one row per source key with op insert/update and before/after values —
    what a downstream incremental consumer replays instead of diffing two
    table versions (feed is O(batch); the diff is O(table)). Same
    target/source pair as sink_merge_upsert, so together they certify that
    the upsert result and its emitted feed agree with one SQL replay."""
    from rca_data_tools_spark.sources.sinks import merge_changes

    e = load_table(spark, sf_dir, "events")
    target = _daily(e).select("d", "event_type", "n", "n_users")
    source = _daily(e.filter(F.col("value") > 50)).filter(
        F.col("d") >= _CUTOFF
    ).select("d", "event_type", "n", "n_users")
    return merge_changes(target, source, ["d", "event_type"])


@query(
    "sink_incremental_agg",
    oracle="""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""",
)
def sink_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MATERIALIZED-VIEW maintenance: the standing rollup was
    built from history (days < cutoff), a new batch (days >= cutoff)
    arrives, and the view updates by merging PARTIAL aggregates — count
    adds, decimal sums add — without rescanning history. The oracle is the
    FULL recompute over all rows, so a hash match proves incremental ≡
    full, which only holds when the aggregates are chosen mergeable (the
    decimal-sum partials stay decimal until the final merge; COUNT
    DISTINCT deliberately absent — it does not decompose, that is what
    sketches (HLL) are for, operators/sketch.py).

    Scale shape: history is never rescanned — per refresh the cost is
    O(batch) + one key-shuffle of two aggregate tables (both rollup-sized,
    not row-sized). This is the reference's span-refresh economics applied
    to an aggregate table instead of a partition."""
    e = load_table(spark, sf_dir, "events")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.to_date("ts").cast("string").alias("d"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round("value", 6).cast("decimal(28,6)")).alias("psum"),
        )

    day = F.to_date("ts").cast("string")
    base = partial(e.filter(day < _SM_CUT2))
    batch = partial(e.filter(day >= _SM_CUT2))
    return (
        base.unionByName(batch)
        .groupBy("d", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("psum").cast("double").alias("sum_value"),
        )
        .select("d", "event_type", "n", "sum_value")
    )


@query(
    "profile_table_stats",
    oracle="""
SELECT 'event_id' AS col, COUNT(*) AS n, COUNT(*) - COUNT(event_id) AS n_null,
       COUNT(DISTINCT event_id) AS n_distinct,
       CAST(MIN(event_id) AS VARCHAR) AS min_val, CAST(MAX(event_id) AS VARCHAR) AS max_val
FROM events
UNION ALL
SELECT 'user_id', COUNT(*), COUNT(*) - COUNT(user_id), COUNT(DISTINCT user_id),
       CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR) FROM events
UNION ALL
SELECT 'event_type', COUNT(*), COUNT(*) - COUNT(event_type), COUNT(DISTINCT event_type),
       MIN(event_type), MAX(event_type) FROM events
UNION ALL
SELECT 'value', COUNT(*), COUNT(*) - COUNT(value), COUNT(DISTINCT value),
       CAST(ROUND(MIN(value), 6) AS VARCHAR), CAST(ROUND(MAX(value), 6) AS VARCHAR) FROM events
""",
)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANALYZE-TABLE profiling job: per-column row count, null count,
    exact distinct count, and min/max (stringified so one long-form schema
    carries every type) — the statistics a catalog stores for CBO join
    ordering and that a data-quality gate reads before a 100 TB pipeline
    run commits to its plan.

    Scale shape: one aggregate per column over a single scan pipeline —
    counts/min/max are map-side-combined; the exact distincts each expand
    to one shuffle (the ANALYZE cost everyone pays — the cheap standing
    alternative is the HLL sketch family, operators/sketch.py, and the
    oracle-checked `agg_approx_distinct` documents the engine's
    approximate path). No collects, no per-row Python."""
    e = load_table(spark, sf_dir, "events")

    def col_stats(c: str, fmt=None) -> DataFrame:
        v = F.col(c)
        mn, mx = F.min(v), F.max(v)
        if fmt is not None:
            mn, mx = fmt(mn), fmt(mx)
        return e.agg(
            F.count(F.lit(1)).alias("n"),
            (F.count(F.lit(1)) - F.count(v)).alias("n_null"),
            F.count_distinct(v).alias("n_distinct"),
            mn.cast("string").alias("min_val"),
            mx.cast("string").alias("max_val"),
        ).select(F.lit(c).alias("col"), "n", "n_null", "n_distinct", "min_val", "max_val")

    import functools

    parts = [
        col_stats("event_id"),
        col_stats("user_id"),
        col_stats("event_type"),
        col_stats("value", fmt=lambda x: F.round(x, 6)),
    ]
    return functools.reduce(DataFrame.unionByName, parts)


@query(
    "streaming_merge_deduped",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
-- batch 1 carried DUPLICATE keys (rev 1 and rev 2 for every d >= CUT1 key);
-- the upstream max_by(rev) dedupe means rev 2 is the batch's effective row
SELECT d, event_type, CAST(0 AS BIGINT) AS rev, n FROM full_run WHERE d < '{_SM_CUT1}'
UNION ALL
SELECT d, event_type, CAST(2 AS BIGINT), n + 200 FROM full_run
WHERE d >= '{_SM_CUT1}' AND d < '{_SM_CUT2}'
UNION ALL
SELECT d, event_type, CAST(3 AS BIGINT), n + 300 FROM full_run WHERE d >= '{_SM_CUT2}'
""",
)
def streaming_merge_deduped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duplicate-key mitigation built into the streaming merge: batch 1
    deliberately carries TWO revisions of every key it touches (rev 1 and
    rev 2 in one micro-batch — the at-least-once upstream reality);
    stream_merge_upsert(version_col='rev') reduces each batch to its
    per-key LATEST revision (map-combined max_by) before the file-pruned
    MERGE, so the dup-key refusal never trips and replays pick the same
    winner. Batch 2 (rev 3) then overrides the overlap. The oracle states
    the final table directly — rev 2 where only batch 1 touched, rev 3
    where batch 2 did — so a wrong winner or a double-apply hash-mismatches.

    Scale shape: the dedupe adds ONE map-side-combined aggregate per batch
    (batch-sized); everything else is the stream_merge_upsert path."""
    from rca_data_tools_spark.streaming.joins import stream_merge_upsert

    ddl = "d string, event_type string, rev bigint, n bigint"
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.to_date("ts").cast("string").alias("d"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    root = tempfile.mkdtemp(prefix="rca_stream_dedup_merge_")
    daily.select(
        "d", "event_type", F.lit(0).cast("long").alias("rev"), "n"
    ).write.parquet(os.path.join(root, "v0"))

    d1 = daily.filter(F.col("d") >= _SM_CUT1)
    b1 = d1.select(
        "d", "event_type", F.lit(1).cast("long").alias("rev"),
        (F.col("n") + 100).alias("n"),
    ).unionByName(
        d1.select(
            "d", "event_type", F.lit(2).cast("long").alias("rev"),
            (F.col("n") + 200).alias("n"),
        )
    )
    b2 = daily.filter(F.col("d") >= _SM_CUT2).select(
        "d", "event_type", F.lit(3).cast("long").alias("rev"),
        (F.col("n") + 300).alias("n"),
    )
    feed = os.path.join(root, "feed")
    os.makedirs(feed)
    for i, b in enumerate([b1, b2]):
        stage = os.path.join(root, f"stage{i}")
        b.coalesce(1).write.parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        dst = os.path.join(feed, f"batch-{i}.parquet")
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (1_000_000 + i * 10, 1_000_000 + i * 10))

    stream = (
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(feed)
    )
    q = stream_merge_upsert(
        stream, root, ["d", "event_type"], ddl,
        os.path.join(root, "ckpt"), version_col="rev",
    )
    q.awaitTermination()
    latest = max(
        int(x[1:]) for x in os.listdir(root) if x.startswith("v") and x[1:].isdigit()
    )
    back = spark.read.schema(ddl).parquet(os.path.join(root, f"v{latest}"))
    return back.select("d", "event_type", "rev", "n")


@query(
    "sink_merge_evolved",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), refresh AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
             AS quality
    FROM events WHERE value > 50 GROUP BY 1, 2
  ) WHERE d >= '{_CUTOFF}'
)
-- WHEN MATCHED AND event_type='click' THEN DELETE; evolution: source has
-- no n_users (matched rows PRESERVE it) and adds quality (NULL elsewhere)
SELECT f.d, f.event_type, f.n, f.n_users, CAST(NULL AS DOUBLE) AS quality
FROM full_run f
WHERE NOT EXISTS (SELECT 1 FROM refresh r WHERE r.d = f.d AND r.event_type = f.event_type)
UNION ALL
SELECT r.d, r.event_type, r.n, f.n_users, r.quality
FROM refresh r JOIN full_run f ON f.d = r.d AND f.event_type = r.event_type
WHERE r.event_type <> 'click'
""",
)
def sink_merge_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with the two remaining clauses of the full SQL statement:
    WHEN MATCHED AND <cond> THEN DELETE (the refresh purges 'click' rows it
    touches — flagged source rows remove their target rows and insert
    nothing) and SCHEMA EVOLUTION (the corrected rollup drops n_users —
    matched rows PRESERVE their target value — and adds a new ``quality``
    column that reads NULL on every row the refresh didn't produce). The
    oracle states the merged table directly, so a wrong clause order
    (deleting after evolving, or overwriting preserved columns)
    hash-mismatches.

    Scale shape: the delete pre-pass is one broadcast anti-join of the
    flagged keys; evolution costs one inner + one anti join instead of one
    anti (matched rows must read BOTH sides to preserve unmentioned target
    columns) — still all key-equi, no windows."""
    from rca_data_tools_spark.functions.numeric import dsum
    from rca_data_tools_spark.sources.sinks import merge_upsert

    e = load_table(spark, sf_dir, "events")
    target = _daily(e).select("d", "event_type", "n", "n_users")
    refresh = (
        e.filter(F.col("value") > 50)
        .groupBy(F.to_date("ts").cast("string").alias("d"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (dsum("value") / F.count(F.lit(1))).alias("quality"),
        )
        .filter(F.col("d") >= _CUTOFF)
    )
    src = refresh.withColumn("_del", F.col("event_type") == "click")
    merged = merge_upsert(
        target, src, ["d", "event_type"], delete_col="_del", schema_evolution=True
    )
    return merged.select("d", "event_type", "n", "n_users", "quality")


@query(
    "sink_delete_vectors",
    oracle="""
WITH survivors AS (
  SELECT event_id, user_id, value FROM events
  WHERE NOT COALESCE(value BETWEEN 120 AND 200, FALSE)
    AND NOT COALESCE(user_id % 10 = 0, FALSE)
)
SELECT
  CAST(0 AS BIGINT) AS files_rewritten,
  (SELECT COUNT(*) FROM survivors) AS n_rows,
  (SELECT CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) FROM survivors)
    AS sum_value,
  (SELECT COUNT(*) FROM events
    WHERE COALESCE(value BETWEEN 120 AND 200, FALSE)
       OR COALESCE(user_id % 10 = 0, FALSE)) AS rows_deleted
""",
)
def sink_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE via DELETION VECTORS (merge-on-read, the Delta DV /
    Iceberg position-delete shape): two successive deletes — a value band,
    then a user_id stripe — run against the events table WITHOUT rewriting
    a single data file (files_rewritten is 0 by construction and in the
    hashed output): each version hardlinks every file and records the
    matched (file, row position) sidecar; the final read subtracts the
    composed vectors at scan time. The oracle states the survivors and the
    deleted-row count directly, so a position off by one, a lost vector on
    composition, or a NULL-predicate mishandling hash-mismatches.

    Scale shape: a delete costs ONE predicate scan + O(matched positions)
    of metadata — zero data bytes rewritten; the merge-on-read scan is a
    broadcast anti-join on (file, row_index) from the reader's own
    _metadata column. GDPR-style scattered deletes over 100 TB become
    metadata operations; compaction (sink_compact_roundtrip) reclaims when
    vectors grow."""
    from rca_data_tools_spark.functions.numeric import dsum
    from rca_data_tools_spark.sources.sinks import delete_where, read_with_deletes

    ddl = "event_id long, user_id long, value double"
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    root = tempfile.mkdtemp(prefix="rca_dv_")
    v0 = os.path.join(root, "v0")
    e.repartition(8).write.parquet(v0)

    s1 = delete_where(spark, v0, os.path.join(root, "v1"),
                      "value BETWEEN 120 AND 200", ddl)
    s2 = delete_where(spark, os.path.join(root, "v1"), os.path.join(root, "v2"),
                      "user_id % 10 = 0", ddl)
    back = read_with_deletes(spark, os.path.join(root, "v2"), ddl)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value").alias("sum_value"),
    ).select(
        F.lit(s1["files_rewritten"] + s2["files_rewritten"]).cast("long").alias("files_rewritten"),
        F.col("n_rows").cast("long"),
        "sum_value",
        F.lit(s1["rows_deleted"] + s2["rows_deleted"]).cast("long").alias("rows_deleted"),
    )


@query(
    "sink_compact_deletes",
    oracle="""
WITH survivors AS (
  SELECT value FROM events WHERE NOT COALESCE(value BETWEEN 120 AND 200, FALSE)
)
SELECT
  CAST(1 AS BIGINT) AS files_after,
  CAST(0 AS BIGINT) AS sidecar_present,
  (SELECT COUNT(*) FROM survivors) AS n_rows,
  (SELECT CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) FROM survivors)
    AS sum_value
""",
)
def sink_compact_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPTIMIZE half of the deletion-vector lifecycle (VERDICT r08
    item 1): delete a value band as merge-on-read vectors (zero files
    rewritten), then COMPACT the DV-bearing version — compaction must read
    THROUGH the vectors and clear the sidecar, so the compacted table is
    read back PLAIN (no DV subtraction) and still shows only survivors.
    Before round 9 this composition silently resurrected deleted rows; the
    hashed output (sidecar_present = 0 and the survivor aggregate from a
    plain scan) makes any regression a hash mismatch, not a quiet data
    corruption.

    Scale shape: the delete is O(matched positions) of executor-written
    metadata; the compaction is the rewrite the table owed anyway, sized
    ceil(bytes/target), and materializing the vectors rides the same scan
    (one anti-join against the files-sized sidecar)."""
    from rca_data_tools_spark.functions.numeric import dsum
    from rca_data_tools_spark.sources.sinks import (
        compact_partitioned, delete_where, has_deletes,
    )

    ddl = "event_id long, user_id long, value double"
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    root = tempfile.mkdtemp(prefix="rca_dv_compact_")
    v0 = os.path.join(root, "v0")
    e.repartition(8).write.parquet(v0)
    v1 = os.path.join(root, "v1")
    delete_where(spark, v0, v1, "value BETWEEN 120 AND 200", ddl)
    stats = compact_partitioned(spark, v1, target_bytes=1 << 30)
    back = spark.read.schema(ddl).parquet(v1)  # plain scan: deletes are physical now
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value").alias("sum_value"),
    ).select(
        F.lit(stats["files_after"]).cast("long").alias("files_after"),
        F.lit(int(has_deletes(v1))).cast("long").alias("sidecar_present"),
        F.col("n_rows").cast("long"),
        "sum_value",
    )


@query(
    "sink_read_as_of",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), v1 AS (
  SELECT * FROM full_run WHERE event_type <> 'click'
), refresh AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 50 GROUP BY 1, 2
  ) WHERE d >= '{_CUTOFF}'
), v2 AS (
  SELECT s.d, s.event_type, s.n, s.n_users FROM v1 s
  WHERE NOT EXISTS (SELECT 1 FROM refresh r
                    WHERE r.d = s.d AND r.event_type = s.event_type)
  UNION ALL SELECT d, event_type, n, n_users FROM refresh
)
SELECT 0 AS version, COUNT(*) AS n_rows,
       CAST(SUM(n) AS BIGINT) AS sum_n, CAST(SUM(n_users) AS BIGINT) AS sum_users
FROM full_run
UNION ALL
SELECT 1, COUNT(*), CAST(SUM(n) AS BIGINT), CAST(SUM(n_users) AS BIGINT) FROM v1
UNION ALL
SELECT 2, COUNT(*), CAST(SUM(n) AS BIGINT), CAST(SUM(n_users) AS BIGINT) FROM v2
""",
)
def sink_read_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL through the read_version API (VERDICT r08 item 7) with a
    DELETION VECTOR in the chain: v0 is the full rollup, v1 deletes every
    'click' row as merge-on-read vectors (zero files rewritten — reading v1
    correctly REQUIRES applying its DVs), v2 is an optimistic-concurrency
    MERGE (merge_into_table) of the refresh batch on top. All three
    versions are read back through read_version(n=...) — never by manual
    directory math — and the latest is also resolved by default-arg and by
    as_of_ts, asserted in-plan equal to n=2. A wrong version resolution, a
    dropped DV, or a merge that disturbed an old snapshot all hash-mismatch
    against the sequential SQL replay.

    Scale shape: version resolution is one directory listing (the format-
    log read); each read is a plain scan + the files-sized DV anti-join;
    the merge is merge_upsert_pruned's O(touched files)."""
    import functools
    import time

    from rca_data_tools_spark.sources.sinks import (
        delete_where, mark_committed, merge_into_table, read_version,
    )

    ddl = "d string, event_type string, n bigint, n_users bigint"
    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="rca_read_asof_")
    daily = _daily(e).select("d", "event_type", "n", "n_users")
    daily.write.parquet(os.path.join(root, "v0"))
    mark_committed(os.path.join(root, "v0"))

    delete_where(
        spark, os.path.join(root, "v0"), os.path.join(root, "v1"),
        "event_type = 'click'", ddl,
    )
    mark_committed(os.path.join(root, "v1"))

    refresh = _daily(e.filter(F.col("value") > 50)).filter(
        F.col("d") >= _CUTOFF
    ).select("d", "event_type", "n", "n_users")
    merge_into_table(spark, root, refresh, ["d", "event_type"], ddl)

    def _agg(df: DataFrame, v: int) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n").alias("sum_n"),
            F.sum("n_users").alias("sum_users"),
        ).select(
            F.lit(v).cast("int").alias("version"),
            F.col("n_rows").cast("long"),
            F.col("sum_n").cast("long"),
            F.col("sum_users").cast("long"),
        )

    parts = [
        _agg(read_version(spark, root, ddl, n=v), v) for v in (0, 1, 2)
    ]
    # the latest (default) and as-of-now resolutions must BE v2: a wrong
    # pick changes the row set and the hash
    latest = read_version(spark, root, ddl)
    as_of = read_version(spark, root, ddl, as_of_ts=time.time())
    mismatch = latest.exceptAll(as_of).unionByName(as_of.exceptAll(latest))
    parts[2] = _agg(
        read_version(spark, root, ddl, n=2).unionByName(mismatch.limit(0))
        if mismatch.isEmpty()
        else mismatch,  # poison the hash if the resolutions disagree
        2,
    )
    return functools.reduce(DataFrame.unionByName, parts)


@query(
    "sink_merge_concurrent",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), b_a AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 30 GROUP BY 1, 2
  ) WHERE d >= '{_SM_CUT1}'
), b_b AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 60 GROUP BY 1, 2
  ) WHERE d >= '{_SM_CUT2}'
), v1 AS (
  SELECT f.d, f.event_type, f.n, f.n_users FROM full_run f
  WHERE NOT EXISTS (SELECT 1 FROM b_a WHERE b_a.d = f.d AND b_a.event_type = f.event_type)
  UNION ALL SELECT d, event_type, n, n_users FROM b_a
), v2 AS (
  SELECT s.d, s.event_type, s.n, s.n_users FROM v1 s
  WHERE NOT EXISTS (SELECT 1 FROM b_b WHERE b_b.d = s.d AND b_b.event_type = s.event_type)
  UNION ALL SELECT d, event_type, n, n_users FROM b_b
)
SELECT CAST(2 AS BIGINT) AS final_version, COUNT(*) AS n_rows,
       CAST(SUM(n) AS BIGINT) AS sum_n, CAST(SUM(n_users) AS BIGINT) AS sum_users
FROM v2
""",
)
def sink_merge_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMISTIC CONCURRENCY under a real race (VERDICT r08 item 4):
    writer A claims v1 (directory created — the O_EXCL mutex) and has not
    yet committed when writer B starts from the same base v0; B's claims
    of v1 collide (FileExistsError) and B refuses loudly (VersionConflict
    — it must not base on uncommitted bytes); once A publishes, B's retry
    re-reads the advanced chain and lands v2 REBASED ON A's OUTPUT. The
    hashed result is the final table: it must contain BOTH writers'
    batches applied in commit order — a lost update (B basing on v0) or a
    double-publish (two v1s) changes the aggregate and hash-mismatches.
    The oracle replays the two merges sequentially, which is exactly what
    the protocol must serialize the racing writers into.

    Scale shape: the protocol adds one directory create + one marker per
    merge on top of merge_upsert_pruned's O(touched files); conflicts cost
    the loser a re-read of KB metadata, never a data rescan of the
    winner's output (the rebase IS the next pruned merge)."""
    from rca_data_tools_spark.sources.sinks import (
        mark_committed, merge_into_table, merge_upsert_pruned, read_version,
    )

    ddl = "d string, event_type string, n bigint, n_users bigint"
    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="rca_merge_conc_")
    _daily(e).select("d", "event_type", "n", "n_users").write.parquet(
        os.path.join(root, "v0")
    )
    mark_committed(os.path.join(root, "v0"))

    b_a = _daily(e.filter(F.col("value") > 30)).filter(
        F.col("d") >= _SM_CUT1
    ).select("d", "event_type", "n", "n_users")
    b_b = _daily(e.filter(F.col("value") > 60)).filter(
        F.col("d") >= _SM_CUT2
    ).select("d", "event_type", "n", "n_users")

    # writer A: claims v1 (merge_upsert_pruned creates the directory — the
    # O_EXCL mutex) but has NOT yet published its commit marker: exactly the
    # window a concurrent writer races into. Staged deterministically (no
    # timers) so the query hashes identically under any scheduler load; the
    # timing-real races live in tests/test_sinks.py's 4- and 6-thread tests.
    merge_upsert_pruned(
        spark, os.path.join(root, "v0"), os.path.join(root, "v1"),
        b_a, ["d", "event_type"], ddl,
    )
    # writer B, while A is uncommitted: every claim of v1 collides and the
    # chain has not advanced — B must refuse loudly, never base on A's
    # half-published bytes and never skip to v2 blind
    from rca_data_tools_spark.sources.sinks import VersionConflict

    conflicted = False
    try:
        merge_into_table(spark, root, b_b, ["d", "event_type"], ddl, retries=1)
    except VersionConflict:
        conflicted = True
    assert conflicted, "the race never happened"
    # A publishes; B retries, re-reads the ADVANCED chain, lands v2 rebased
    # on A's committed output
    mark_committed(os.path.join(root, "v1"))
    stats = merge_into_table(
        spark, root, b_b, ["d", "event_type"], ddl, retries=20
    )
    final = read_version(spark, root, ddl)
    return final.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n").alias("sum_n"),
        F.sum("n_users").alias("sum_users"),
    ).select(
        F.lit(stats["version"]).cast("long").alias("final_version"),
        F.col("n_rows").cast("long"),
        F.col("sum_n").cast("long"),
        F.col("sum_users").cast("long"),
    )


_CDC_CUT1, _CDC_CUT2 = "2024-01-12", "2024-01-20"


@query(
    "streaming_merge_cdc",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), b1 AS (
  SELECT d, event_type, n, n_users,
         CASE WHEN event_type = 'click' THEN 'delete' ELSE 'update' END AS op
  FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 30 GROUP BY 1, 2
  ) WHERE d >= '{_CDC_CUT1}'
), b2 AS (
  SELECT d, event_type, n, n_users,
         CASE WHEN event_type = 'view' THEN 'delete' ELSE 'update' END AS op
  FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 60 GROUP BY 1, 2
  ) WHERE d >= '{_CDC_CUT2}'
), v1 AS (
  -- a batch key REMOVES (delete) or REPLACES (update) its target row
  SELECT f.d, f.event_type, f.n, f.n_users FROM full_run f
  WHERE NOT EXISTS (SELECT 1 FROM b1 WHERE b1.d = f.d AND b1.event_type = f.event_type)
  UNION ALL
  SELECT d, event_type, n, n_users FROM b1 WHERE op <> 'delete'
), v2 AS (
  SELECT s.d, s.event_type, s.n, s.n_users FROM v1 s
  WHERE NOT EXISTS (SELECT 1 FROM b2 WHERE b2.d = s.d AND b2.event_type = s.event_type)
  UNION ALL
  SELECT d, event_type, n, n_users FROM b2 WHERE op <> 'delete'
)
SELECT d, event_type, n, n_users FROM v2
""",
)
def streaming_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC APPLY (VERDICT r08 item 6): a change feed whose rows
    carry op ∈ {update, delete} drives the copy-on-write version chain
    through stream_merge_cdc — two real micro-batches (readStream +
    foreachBatch), each MERGEd with WHEN MATCHED AND <op='delete'> THEN
    DELETE semantics: batch-1 purges 'click' rollups it touches and
    upserts the rest, batch-2 then purges 'view' rollups (including ones
    batch-1 just wrote — cross-batch delete-after-update must land). The
    final version is read back whole; the oracle replays both CDC batches
    sequentially in SQL, so a dropped delete, a resurrected row, or
    batch-boundary misdelivery hash-mismatches. A delete for an absent key
    (clicks already purged by batch 1, re-deleted by neither) is a no-op,
    like SQL MERGE.

    Scale shape: per batch, delete keys count as matches for zone-map
    pruning (their files must rewrite), so cost stays O(touched files);
    the stream holds no state — the table IS the state."""
    from rca_data_tools_spark.streaming.joins import stream_merge_cdc

    ddl = "d string, event_type string, n bigint, n_users bigint"
    feed_ddl = ddl + ", op string"
    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="rca_stream_cdc_")
    _daily(e).select("d", "event_type", "n", "n_users").write.parquet(
        os.path.join(root, "v0")
    )

    def _ops(src: DataFrame, cut: str, del_type: str) -> DataFrame:
        return src.filter(F.col("d") >= cut).select(
            "d", "event_type", "n", "n_users",
            F.when(F.col("event_type") == del_type, F.lit("delete"))
            .otherwise(F.lit("update")).alias("op"),
        )

    feed = os.path.join(root, "feed")
    os.makedirs(feed)
    batches = [
        _ops(_daily(e.filter(F.col("value") > 30)), _CDC_CUT1, "click"),
        _ops(_daily(e.filter(F.col("value") > 60)), _CDC_CUT2, "view"),
    ]
    for i, b in enumerate(batches):
        stage = os.path.join(root, f"stage{i}")
        b.coalesce(1).write.parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        dst = os.path.join(feed, f"batch-{i}.parquet")
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (1_000_000 + i * 10, 1_000_000 + i * 10))

    stream = (
        spark.readStream.schema(feed_ddl).option("maxFilesPerTrigger", 1).parquet(feed)
    )
    q = stream_merge_cdc(
        stream, root, ["d", "event_type"], ddl, os.path.join(root, "ckpt")
    )
    q.awaitTermination()
    latest = max(
        int(d[1:]) for d in os.listdir(root) if d.startswith("v") and d[1:].isdigit()
    )
    back = spark.read.schema(ddl).parquet(os.path.join(root, f"v{latest}"))
    return back.select("d", "event_type", "n", "n_users")


@query(
    "sink_update_chain",
    oracle="""
WITH after_delete AS (
  SELECT event_id, user_id, value FROM events
  WHERE NOT COALESCE(value BETWEEN 120 AND 200, FALSE)
), final AS (
  SELECT event_id, user_id,
         CASE WHEN user_id % 7 = 0 THEN value + 1000 ELSE value END AS value
  FROM after_delete
)
SELECT
  CAST(3 AS BIGINT) AS final_version,
  CAST(1 AS BIGINT) AS files_after,
  (SELECT COUNT(*) FROM final) AS n_rows,
  (SELECT CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) FROM final)
    AS sum_value,
  (SELECT COUNT(*) FROM after_delete WHERE user_id % 7 = 0) AS rows_updated
""",
)
def sink_update_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full DML family on one version chain, all through the
    claim/commit protocol: DELETE (deletion vectors — v1), row-level
    UPDATE (merge-on-read: old images vectored out, new images appended,
    zero files rewritten — v2), then OPTIMIZE (vectors materialized into
    ~one file as a NEW committed version — v3, old versions untouched for
    time travel). The latest version is read back through read_version;
    the oracle replays delete-then-update in SQL, so a resurrected delete,
    a double-applied update (old image surviving next to the new one), or
    an OPTIMIZE that changed content all hash-mismatch. rows_updated
    counts only rows the delete left alive — an UPDATE must never revive
    a deleted row.

    Scale shape: DELETE and UPDATE cost O(matched) executor-written
    metadata/new-images with every data file hardlinked; OPTIMIZE is the
    one owed rewrite, sized ceil(bytes/target); the protocol adds a
    directory create + marker per statement."""
    from rca_data_tools_spark.functions.numeric import dsum
    from rca_data_tools_spark.sources.sinks import (
        delete_into_table, mark_committed, optimize_table, read_version,
        update_into_table,
    )

    ddl = "event_id long, user_id long, value double"
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    root = tempfile.mkdtemp(prefix="rca_dml_chain_")
    e.repartition(8).write.parquet(os.path.join(root, "v0"))
    mark_committed(os.path.join(root, "v0"))

    delete_into_table(spark, root, "value BETWEEN 120 AND 200", ddl)
    su = update_into_table(
        spark, root, "user_id % 7 = 0", {"value": "value + 1000"}, ddl
    )
    so = optimize_table(spark, root, target_bytes=1 << 30)
    back = read_version(spark, root, ddl)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value").alias("sum_value"),
    ).select(
        F.lit(so["version"]).cast("long").alias("final_version"),
        F.lit(so["files_after"]).cast("long").alias("files_after"),
        F.col("n_rows").cast("long"),
        "sum_value",
        F.lit(su["rows_updated"]).cast("long").alias("rows_updated"),
    )


@query(
    "sink_table_changes",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), b1 AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 30 GROUP BY 1, 2
  ) WHERE d >= '{_SM_CUT1}'
), b2 AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 60 GROUP BY 1, 2
  ) WHERE d >= '{_SM_CUT2}'
), v1 AS (
  SELECT f.d, f.event_type, f.n, f.n_users FROM full_run f
  WHERE NOT EXISTS (SELECT 1 FROM b1 WHERE b1.d = f.d AND b1.event_type = f.event_type)
  UNION ALL SELECT d, event_type, n, n_users FROM b1
)
SELECT 1 AS _version, b1.d, b1.event_type,
       CASE WHEN f.d IS NULL THEN 'insert' ELSE 'update' END AS op,
       f.n AS before_n, b1.n AS after_n
FROM b1 LEFT JOIN full_run f ON f.d = b1.d AND f.event_type = b1.event_type
UNION ALL
SELECT 2, b2.d, b2.event_type,
       CASE WHEN s.d IS NULL THEN 'insert' ELSE 'update' END,
       s.n, b2.n
FROM b2 LEFT JOIN v1 s ON s.d = b2.d AND s.event_type = b2.event_type
""",
)
def sink_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED change-data-feed across the version chain (Delta
    table_changes): create_table writes the committed, range-clustered,
    manifest-bearing v0; two merge_into_table(changes_feed=True) statements
    each persist their CDF as an executor-written ``_changes/`` sidecar in
    their version; read_changes replays BOTH versions' feeds with
    ``_version`` stamps. The oracle derives each merge's feed against the
    correct base state (v2's before-images come from v1, not v0 — a feed
    computed against the wrong base hash-mismatches), so the whole
    incremental-consumer contract is certified: replaying the feed
    reproduces the sequential merges.

    Scale shape: each feed is O(batch) (one key join of the batch against
    the base, batch-broadcast by AQE); read_changes unions sidecar scans —
    never diffs snapshots."""
    from rca_data_tools_spark.sources.sinks import (
        create_table, merge_into_table, read_changes,
    )

    ddl = "d string, event_type string, n bigint, n_users bigint"
    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="rca_cdf_chain_")
    daily = _daily(e).select("d", "event_type", "n", "n_users")
    create_table(daily, root, zone_key="d", n_files=4)
    b1 = _daily(e.filter(F.col("value") > 30)).filter(
        F.col("d") >= _SM_CUT1
    ).select("d", "event_type", "n", "n_users")
    b2 = _daily(e.filter(F.col("value") > 60)).filter(
        F.col("d") >= _SM_CUT2
    ).select("d", "event_type", "n", "n_users")
    merge_into_table(spark, root, b1, ["d", "event_type"], ddl, changes_feed=True)
    merge_into_table(spark, root, b2, ["d", "event_type"], ddl, changes_feed=True)
    return read_changes(spark, root, from_v=0).select(
        "_version", "d", "event_type", "op", "before_n", "after_n"
    )


@query(
    "sink_restore_version",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), refresh AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 50 GROUP BY 1, 2
  ) WHERE d >= '{_CUTOFF}'
), v1 AS (
  SELECT f.d, f.event_type, f.n, f.n_users FROM full_run f
  WHERE NOT EXISTS (SELECT 1 FROM refresh r
                    WHERE r.d = f.d AND r.event_type = f.event_type)
  UNION ALL SELECT d, event_type, n, n_users FROM refresh
), v2 AS (
  SELECT * FROM v1 WHERE event_type <> 'click'
)
SELECT 2 AS version, COUNT(*) AS n_rows,
       CAST(SUM(n) AS BIGINT) AS sum_n, CAST(SUM(n_users) AS BIGINT) AS sum_users
FROM v2
UNION ALL
SELECT 3, COUNT(*), CAST(SUM(n) AS BIGINT), CAST(SUM(n_users) AS BIGINT)
FROM full_run
""",
)
def sink_restore_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE on the version chain: v0 full rollup -> v1 MERGE refresh ->
    v2 DELETE of 'click' rows (merge-on-read vectors) -> RESTORE back to
    v0, which lands as NEW version v3 (history is immutable; a rollback is
    one more commit). The hashed output reads v2 AND the restored tip
    through read_version: the tip must equal v0 bit-for-bit (the merge and
    the delete both rolled back) while v2 stays readable with its own DV
    applied — a restore that mutated history, dropped a sidecar, or
    resolved the wrong snapshot hash-mismatches.

    Scale shape: restore is O(files) hardlinks — zero data bytes — under
    the same claim/commit protocol as every DML (sinks.restore_table)."""
    import functools

    from rca_data_tools_spark.sources.sinks import (
        create_table, delete_into_table, merge_into_table, read_version,
        restore_table,
    )

    ddl = "d string, event_type string, n bigint, n_users bigint"
    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="rca_restore_")
    daily = _daily(e).select("d", "event_type", "n", "n_users")
    create_table(daily, root, zone_key="d", n_files=4)
    refresh = _daily(e.filter(F.col("value") > 50)).filter(
        F.col("d") >= _CUTOFF
    ).select("d", "event_type", "n", "n_users")
    merge_into_table(spark, root, refresh, ["d", "event_type"], ddl, zone_key="d")
    delete_into_table(spark, root, "event_type = 'click'", ddl)
    st = restore_table(root, 0)

    def _agg(df: DataFrame, v: int) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n").alias("sum_n"),
            F.sum("n_users").alias("sum_users"),
        ).select(
            F.lit(v).cast("int").alias("version"),
            F.col("n_rows").cast("long"),
            F.col("sum_n").cast("long"),
            F.col("sum_users").cast("long"),
        )

    return _agg(read_version(spark, root, ddl, n=2), 2).unionByName(
        _agg(read_version(spark, root, ddl), st["version"])
    )


@query(
    "sink_clone_table",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), src_v1 AS (
  SELECT * FROM full_run WHERE event_type <> 'click'
), clone_v1 AS (
  SELECT * FROM src_v1 WHERE d >= '{_CUTOFF}'
)
SELECT 'clone' AS side, COUNT(*) AS n_rows, CAST(SUM(n) AS BIGINT) AS sum_n
FROM clone_v1
UNION ALL
SELECT 'src', COUNT(*), CAST(SUM(n) AS BIGINT) FROM src_v1
""",
)
def sink_clone_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE: the source chain deletes 'click' rows as deletion
    vectors (v1), the clone hardlinks that DV-bearing snapshot as ITS v0
    (zero data copied), then the clone alone deletes the days before the
    cutoff AND the source is VACUUMed down to one version. The hashed
    output reads both tables after all of it: the clone must show both
    deletes (its borrowed DV composed with its own), the source must show
    only its own — and the source's vacuum must not have corrupted the
    clone (hardlinks refcount at the filesystem; an object-store shallow
    clone would have dangled). Divergence in either direction, a shared
    sidecar mutation, or a vacuum-broken clone all hash-mismatch.

    Scale shape: clone = O(files) hardlinks; each delete is O(matched
    positions) metadata; vacuum is pure unlink."""
    from rca_data_tools_spark.sources.sinks import (
        clone_table, create_table, delete_into_table, read_version,
        vacuum_versions,
    )

    ddl = "d string, event_type string, n bigint, n_users bigint"
    e = load_table(spark, sf_dir, "events")
    src = tempfile.mkdtemp(prefix="rca_clone_src_")
    dst = os.path.join(tempfile.mkdtemp(prefix="rca_clone_dst_"), "t")
    daily = _daily(e).select("d", "event_type", "n", "n_users")
    create_table(daily, src, zone_key="d", n_files=4)
    delete_into_table(spark, src, "event_type = 'click'", ddl)
    clone_table(src, dst)
    delete_into_table(spark, dst, f"d < '{_CUTOFF}'", ddl)
    vacuum_versions(src, keep_last=1)

    def _agg(df: DataFrame, side: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n").alias("sum_n"),
        ).select(
            F.lit(side).alias("side"),
            F.col("n_rows").cast("long"),
            F.col("sum_n").cast("long"),
        )

    return _agg(read_version(spark, dst, ddl), "clone").unionByName(
        _agg(read_version(spark, src, ddl), "src")
    )


@query(
    "sink_bloom_lookup",
    oracle="""
SELECT event_id, user_id, value, CAST(1 AS INT) AS pruned
FROM events WHERE event_id IN (5, 999)
""",
)
def sink_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file BLOOM-INDEX point lookup composed with deletion vectors:
    the events table lands as a committed chain (8 hash-partitioned
    files), a bloom index on event_id is built executor-side, one event is
    deleted as a merge-on-read vector (the sidecar AND the index hardlink
    into the new version), and point_lookup fetches three ids. The hashed
    rows prove (a) zero false negatives — both surviving ids come back
    with exact values, (b) DV composition — the deleted id stays gone, and
    (c) that pruning actually bit: the `pruned` literal is 1 only when
    fewer files were opened than exist (deterministic: fixed data + fixed
    xxhash64 seeds; each unique event_id lives in one file, so candidates
    ~= 3 of 8 + false positives ~0 at 64 Kbit/file).

    Scale shape: the index build is one scan + one applyInPandas pack per
    file; the probe is a values-cross-files-sized codegen join; the lookup
    opens only candidate files — the parquet-bloom-footer economics at
    100 TB (sources/bloom_index.py)."""
    from rca_data_tools_spark.sources.bloom_index import (
        build_bloom_index, point_lookup,
    )
    from rca_data_tools_spark.sources.sinks import (
        create_table, delete_into_table, latest_committed,
    )

    ddl = "event_id long, user_id long, value double"
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    root = tempfile.mkdtemp(prefix="rca_bloom_")
    create_table(e.repartition(8, "user_id"), root)
    build_bloom_index(spark, os.path.join(root, "v0"), "event_id", schema_ddl=ddl)
    delete_into_table(spark, root, "event_id = 777", ddl)
    vdir = os.path.join(root, f"v{latest_committed(root)}")
    rows, stats = point_lookup(spark, vdir, "event_id", [5, 777, 999], ddl)
    return rows.select(
        "event_id", "user_id", "value",
        F.lit(int(stats["files_scanned"] < stats["files_total"]))
        .cast("int").alias("pruned"),
    )


@query(
    "sink_changes_all_dml",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), b1 AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 50 GROUP BY 1, 2
  ) WHERE d >= '{_CUTOFF}'
), v1 AS (
  SELECT f.d, f.event_type, f.n, f.n_users FROM full_run f
  WHERE NOT EXISTS (SELECT 1 FROM b1 WHERE b1.d = f.d AND b1.event_type = f.event_type)
  UNION ALL SELECT * FROM b1
), v2 AS (
  SELECT * FROM v1 WHERE event_type <> 'click'
), feed1 AS (
  SELECT 1 AS _version,
         CASE WHEN f.d IS NULL THEN 'insert' ELSE 'update' END AS op,
         f.n AS before_n, b.n AS after_n
  FROM b1 b LEFT JOIN full_run f
    ON f.d = b.d AND f.event_type = b.event_type
), feed2 AS (
  SELECT 2 AS _version, 'delete' AS op, n AS before_n, NULL AS after_n
  FROM v1 WHERE event_type = 'click'
), feed3 AS (
  SELECT 3 AS _version, 'update' AS op, n AS before_n, n + 100 AS after_n
  FROM v2 WHERE event_type = 'purchase'
), feed AS (
  SELECT * FROM feed1 UNION ALL SELECT * FROM feed2 UNION ALL SELECT * FROM feed3
)
SELECT _version, op, COUNT(*) AS n_changes,
       CAST(SUM(before_n) AS BIGINT) AS sum_before_n,
       CAST(COALESCE(SUM(after_n), 0) AS BIGINT) AS sum_after_n
FROM feed GROUP BY _version, op
""",
)
def sink_changes_all_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-FIDELITY change-data-feed across every DML: MERGE (v1,
    changes_feed) -> DELETE of 'click' rows (v2, changes_feed_keys) ->
    UPDATE of 'purchase' counts (v3, changes_feed_keys), then ONE
    read_changes(0,3) replay grouped by (version, op). Before round 9's
    extension, DELETE/UPDATE versions had no feed and read_changes refused
    to cross them; now a CDC consumer replays the whole chain. The oracle
    derives each version's feed against the correct BASE state (v2's
    delete images come from v1, v3's update images from v2) — a feed
    computed against the wrong base, an update feed missing the set-expr,
    or a delete feed emitting already-deleted rows hash-mismatches.

    Scale shape: each feed is O(matched rows), written executor-side into
    the version directory; the replay unions sidecar scans — never diffs
    snapshots."""
    from rca_data_tools_spark.sources.sinks import (
        create_table, delete_into_table, merge_into_table, read_changes,
        update_into_table,
    )

    ddl = "d string, event_type string, n bigint, n_users bigint"
    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="rca_all_dml_cdf_")
    daily = _daily(e).select("d", "event_type", "n", "n_users")
    create_table(daily, root, zone_key="d", n_files=4)
    keys = ["d", "event_type"]
    b1 = _daily(e.filter(F.col("value") > 50)).filter(
        F.col("d") >= _CUTOFF
    ).select("d", "event_type", "n", "n_users")
    merge_into_table(spark, root, b1, keys, ddl, zone_key="d", changes_feed=True)
    delete_into_table(spark, root, "event_type = 'click'", ddl,
                      changes_feed_keys=keys)
    update_into_table(spark, root, "event_type = 'purchase'",
                      {"n": "n + 100"}, ddl, changes_feed_keys=keys)
    feed = read_changes(spark, root, 0, 3)
    return feed.groupBy("_version", "op").agg(
        F.count(F.lit(1)).alias("n_changes"),
        F.sum("before_n").alias("sb"),
        F.coalesce(F.sum("after_n"), F.lit(0)).alias("sa"),
    ).select(
        "_version", "op",
        F.col("n_changes").cast("long"),
        F.col("sb").cast("long").alias("sum_before_n"),
        F.col("sa").cast("long").alias("sum_after_n"),
    )


@query(
    "sink_optimize_zorder",
    oracle="""
WITH survivors AS (
  SELECT event_id, user_id, value FROM events
  WHERE NOT COALESCE(value BETWEEN 120 AND 200, FALSE)
)
SELECT
  CAST(0 AS BIGINT) AS sidecar_present,
  (SELECT COUNT(*) FROM survivors) AS n_rows,
  (SELECT CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE) FROM survivors)
    AS sum_value,
  (SELECT CAST(SUM(event_id) AS BIGINT) FROM survivors) AS sum_ids
""",
)
def sink_optimize_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER as a chain DML: a scattered (round-robin) table
    deletes a value band as merge-on-read vectors, then OPTIMIZE
    re-clusters the survivors on the Morton interleave of (user_id,
    event_id) into a new committed version — reading THROUGH the vectors
    and clearing the sidecar, so the hashed read-back is a PLAIN scan that
    must still show only survivors. Clustering tightness itself is footer
    metadata (asserted in tests/test_restore_clone.py); the oracle
    certifies the half that must never regress silently: content identity
    and DV materialization through the re-layout.

    Scale shape: the rewrite the chain owed anyway, paid with ONE
    repartitionByRange shuffle on the Morton key; bounds are a 4-long
    aggregate; every later filter on EITHER clustered column prunes files
    by parquet footer min/max (sinks.optimize_table)."""
    from rca_data_tools_spark.functions.numeric import dsum
    from rca_data_tools_spark.sources.sinks import (
        create_table, delete_into_table, has_deletes, optimize_table,
    )

    ddl = "event_id long, user_id long, value double"
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    root = tempfile.mkdtemp(prefix="rca_zorder_")
    create_table(e.repartition(8), root)
    delete_into_table(spark, root, "value BETWEEN 120 AND 200", ddl)
    st = optimize_table(spark, root, target_bytes=1 << 22,
                        zorder_cols=["user_id", "event_id"])
    vdir = os.path.join(root, f"v{st['version']}")
    back = spark.read.schema(ddl).parquet(vdir)  # plain scan: deletes physical
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value").alias("sum_value"),
        F.sum("event_id").alias("sum_ids"),
    ).select(
        F.lit(int(has_deletes(vdir))).cast("long").alias("sidecar_present"),
        F.col("n_rows").cast("long"),
        "sum_value",
        F.col("sum_ids").cast("long"),
    )


@query(
    "streaming_merge_quarantine",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), b1 AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 30 GROUP BY 1, 2
  ) WHERE d >= '{_SM_CUT1}'
), b2 AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 60 GROUP BY 1, 2
  ) WHERE d >= '{_SM_CUT2}'
), final_table AS (
  -- the injected bad rows never reach the table: the clean replay
  SELECT f.d, f.event_type, f.n, f.n_users FROM full_run f
  WHERE NOT EXISTS (SELECT 1 FROM b1 WHERE b1.d = f.d AND b1.event_type = f.event_type)
    AND NOT EXISTS (SELECT 1 FROM b2 WHERE b2.d = f.d AND b2.event_type = f.event_type)
  UNION ALL
  SELECT o.d, o.event_type, o.n, o.n_users FROM b1 o
  WHERE NOT EXISTS (SELECT 1 FROM b2 WHERE b2.d = o.d AND b2.event_type = o.event_type)
  UNION ALL
  SELECT d, event_type, n, n_users FROM b2
)
SELECT d, event_type, n, CAST(NULL AS BIGINT) AS batch, '' AS violated
FROM final_table
UNION ALL
SELECT '2024-02-01', 'badtype', -1, 0, 'n_nonneg'
UNION ALL
SELECT '2024-02-02', 'view', 10, 1, 'users_present'
""",
)
def streaming_merge_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXPECTATIONS GATE inside the streaming ingest-to-merge loop:
    each of two correction micro-batches carries one deliberately bad row
    (a negative count; a NULL user count) alongside its real corrections.
    stream_merge_expectations splits every batch on the declarative rules
    — clean rows MERGE into the version chain, violating rows land in a
    per-batch quarantine partition carrying the rule names they broke. The
    hashed output is the final table (which must equal the clean two-merge
    replay: no bad row ever admitted, no good row dropped) UNIONED with the
    quarantine detail (which must be exactly the two injected rows, tagged
    with their batch and rule). A gate that leaked, over-dropped, or
    mis-attributed a rule hash-mismatches.

    Scale shape: the rules fuse into the batch scan as codegen predicates
    (zero extra jobs); the quarantine write is O(bad rows) per batch and
    replay-idempotent (a replayed batch rebuilds its partition, matching
    the version rebuild on the merge side)."""
    from rca_data_tools_spark.streaming.joins import stream_merge_expectations

    ddl = "d string, event_type string, n bigint, n_users bigint"
    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="rca_stream_quar_")
    _daily(e).select("d", "event_type", "n", "n_users").write.parquet(
        os.path.join(root, "v0")
    )

    bad = [
        local_rows_df(spark, [("2024-02-01", "badtype", -1, 0)], ddl),
        local_rows_df(spark, [("2024-02-02", "view", 10, None)], ddl),
    ]
    feed = os.path.join(root, "feed")
    os.makedirs(feed)
    batches = [
        _daily(e.filter(F.col("value") > 30)).filter(F.col("d") >= _SM_CUT1),
        _daily(e.filter(F.col("value") > 60)).filter(F.col("d") >= _SM_CUT2),
    ]
    for i, b in enumerate(batches):
        stage = os.path.join(root, f"stage{i}")
        b.select("d", "event_type", "n", "n_users").unionByName(
            bad[i]
        ).coalesce(1).write.parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        dst = os.path.join(feed, f"batch-{i}.parquet")
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (1_000_000 + i * 10, 1_000_000 + i * 10))

    qdir = os.path.join(root, "quarantine")
    stream = (
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(feed)
    )
    q = stream_merge_expectations(
        stream, root, ["d", "event_type"], ddl, os.path.join(root, "ckpt"),
        rules={"n_nonneg": "n >= 0", "users_present": "n_users IS NOT NULL"},
        quarantine_dir=qdir,
    )
    q.awaitTermination()
    latest = max(
        int(d[1:]) for d in os.listdir(root) if d.startswith("v") and d[1:].isdigit()
    )
    table = spark.read.schema(ddl).parquet(os.path.join(root, f"v{latest}")).select(
        "d", "event_type", "n",
        F.lit(None).cast("long").alias("batch"),
        F.lit("").alias("violated"),
    )
    quar = spark.read.parquet(qdir).select(
        "d", "event_type", "n",
        F.col("batch").cast("long"),
        F.col("violations").alias("violated"),
    )
    return table.unionByName(quar)


@query(
    "sink_changes_replay",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), b1 AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 50 GROUP BY 1, 2
  ) WHERE d >= '{_CUTOFF}'
)
SELECT f.d, f.event_type, f.n, f.n_users FROM full_run f
WHERE NOT EXISTS (SELECT 1 FROM b1 WHERE b1.d = f.d AND b1.event_type = f.event_type)
UNION ALL SELECT * FROM b1
""",
)
def sink_changes_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONSUMER half of the change-data-feed contract: a downstream
    replica is materialized from the v0 snapshot plus ONE read_changes
    replay of the full-fidelity feed — MERGE v1, DELETE v2, UPDATE v3, and
    (r10) a RESTORE back to v1 as v4, whose feed is the persisted keyed
    diff of the restored snapshot against the prior tip
    (``_snapshot_diff_feed``: deleted clicks re-insert, updated purchases
    revert) — per-key highest-version event wins, delete is a tombstone.
    The replica is asserted in-plan equal to the actual table at the tip
    (any divergence replaces the output and poisons the hash): a CDC-fed
    downstream system survives a rollback instead of being stranded by it
    (VERDICT r09 item 3). The oracle recomputes v1 (= the restored tip)
    relationally.

    Scale shape: one map-combined max_by per key over the feed + one
    anti-join of the base — never a snapshot diff driver-side; the restore
    feed's own diff scan prunes to the files the two snapshots do not
    share by inode (sinks._snapshot_diff_feed)."""
    from rca_data_tools_spark.sources.sinks import (
        create_table, delete_into_table, merge_into_table, read_changes,
        read_version, replay_changes, restore_table, update_into_table,
    )

    ddl = "d string, event_type string, n bigint, n_users bigint"
    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="rca_cdf_replay_")
    daily = _daily(e).select("d", "event_type", "n", "n_users")
    create_table(daily, root, zone_key="d", n_files=4)
    keys = ["d", "event_type"]
    b1 = _daily(e.filter(F.col("value") > 50)).filter(
        F.col("d") >= _CUTOFF
    ).select("d", "event_type", "n", "n_users")
    merge_into_table(spark, root, b1, keys, ddl, zone_key="d", changes_feed=True)
    delete_into_table(spark, root, "event_type = 'click'", ddl,
                      changes_feed_keys=keys)
    update_into_table(spark, root, "event_type = 'purchase'",
                      {"n": "n + 100"}, ddl, changes_feed_keys=keys)
    restore_table(root, 1, spark=spark, changes_feed_keys=keys, schema_ddl=ddl)

    base = read_version(spark, root, ddl, n=0)
    feed = read_changes(spark, root, 0, 4)  # crosses the RESTORE
    replica = replay_changes(base, feed, keys)
    actual = read_version(spark, root, ddl)
    mismatch = replica.exceptAll(actual).unionByName(actual.exceptAll(replica))
    # poison the hash if the replica diverges from the real table
    return (
        replica.unionByName(mismatch.limit(0)) if mismatch.isEmpty() else mismatch
    )


@query(
    "sink_table_history",
    oracle="""
SELECT 0 AS version, 'create' AS op
UNION ALL SELECT 1, 'merge'
UNION ALL SELECT 2, 'delete'
UNION ALL SELECT 3, 'update'
UNION ALL SELECT 4, 'optimize_zorder'
UNION ALL SELECT 5, 'restore'
""",
)
def sink_table_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY: every chain-advancing statement records its op in
    the version's ``_commit`` marker at publish time, and table_history
    reads the whole commit log back as a DataFrame — one directory listing
    plus KB marker reads, never a data scan. The face drives ONE chain
    through all six verbs (create → MERGE → DELETE → UPDATE → OPTIMIZE
    ZORDER → RESTORE) and hashes the (version, op) log against the literal
    truth: a mislabeled, missing, or double-published version changes the
    log and the hash. Timestamps and op stats ride the same rows
    (nondeterministic — excluded from the hashed projection, asserted
    present in the lifecycle tests)."""
    from rca_data_tools_spark.sources.sinks import (
        create_table, delete_into_table, merge_into_table, optimize_table,
        restore_table, table_history, update_into_table,
    )

    ddl = "d string, event_type string, n bigint, n_users bigint"
    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="rca_history_")
    daily = _daily(e).select("d", "event_type", "n", "n_users")
    create_table(daily, root, zone_key="d", n_files=4)
    b1 = _daily(e.filter(F.col("value") > 50)).filter(
        F.col("d") >= _CUTOFF
    ).select("d", "event_type", "n", "n_users")
    merge_into_table(spark, root, b1, ["d", "event_type"], ddl, zone_key="d")
    delete_into_table(spark, root, "event_type = 'click'", ddl)
    update_into_table(spark, root, "event_type = 'purchase'", {"n": "n + 1"}, ddl)
    optimize_table(spark, root, target_bytes=1 << 22,
                   zorder_cols=["n", "n_users"])
    restore_table(root, 1)
    return table_history(spark, root).select("version", "op")


# second-key derivation for the 2-D pruning face: v = (k * 7919) % P —
# uncorrelated with k's layout. NOT injective once ids exceed P (the sf1
# scale corpus key-shifts ids into the hundreds of millions), so the
# source batch is reduced to ONE row per v (max_by on k) before the
# v-keyed merge — MERGE-legal at every scale, and the reduction is
# replayed verbatim in the oracle
_P2D = 1048583
_W2D = 100000  # source batch updates keys with v < this


@query(
    "sink_merge_prune_2d",
    oracle=f"""
WITH t AS (
  SELECT event_id AS k, (event_id * 7919) % {_P2D} AS v, value AS val
  FROM events
),
src AS (
  SELECT MAX_BY(k, k) AS k, v, MAX_BY(val, k) + 1000 AS val
  FROM t WHERE v < {_W2D} GROUP BY v
),
merged AS (
  SELECT k, v, val FROM t
  WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.v = t.v)
  UNION ALL SELECT k, v, val FROM src
)
SELECT CAST(1 AS BIGINT) AS merge_manifest_used,
       CAST(1 AS BIGINT) AS merge_pruned,
       CAST(1 AS BIGINT) AS lookup_pruned,
       (SELECT COUNT(*) FROM merged) AS n_rows,
       (SELECT CAST(SUM(CAST(ROUND(val, 6) AS DECIMAL(28,6))) AS DOUBLE) FROM merged)
         AS sum_val,
       (SELECT COUNT(*) FROM merged WHERE k IN (3, 101)) AS n_hit,
       (SELECT CAST(SUM(CAST(ROUND(val, 6) AS DECIMAL(28,6))) AS DOUBLE)
          FROM merged WHERE k IN (3, 101)) AS sum_hit
""",
)
def sink_merge_prune_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-DIMENSIONAL metadata pruning after OPTIMIZE ZORDER (VERDICT r09
    item 5): the chain is created clustered on ``k``, re-clustered by
    OPTIMIZE ZORDER(k, v) — which now persists BOTH clustering dimensions
    in the manifest (primary map + per-column secondary maps) — and then
    (a) a pruned MERGE keyed on the SECOND dimension ``v`` resolves its
    candidate files from the manifest's ``columns["v"]`` map
    (manifest_used, with strictly fewer candidates than files), and (b) a
    point_lookup on ``k`` against the merged version prunes via the
    carried ``columns["k"]`` map with no bloom index present (strictly
    fewer files scanned than the table holds). The hashed output certifies
    the pruning invariants AND the full merged content + looked-up rows —
    wrong pruning that loses an update or a lookup hit poisons the hash.

    Scale shape: both prunes are KB-sized manifest reads — zero footer
    opens, zero data scans — composed with the same candidate-exactness
    fallbacks as the 1-D path; the secondary maps ride the same single
    stats scan every merge already pays for its new parts
    (zonemap.checked_maps / build_manifest / manifest_candidate_files)."""
    from rca_data_tools_spark.functions.numeric import dsum
    from rca_data_tools_spark.sources.bloom_index import point_lookup
    from rca_data_tools_spark.sources.sinks import (
        create_table, merge_into_table, optimize_table, read_version,
    )

    ddl = "k bigint, v bigint, val double"
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("k"),
        ((F.col("event_id") * F.lit(7919)) % F.lit(_P2D)).alias("v"),
        F.col("value").alias("val"),
    )
    root = tempfile.mkdtemp(prefix="rca_prune2d_")
    create_table(e, root, zone_key="k", n_files=8)
    # adaptive file target: ~24 z-ordered files at any corpus scale (the
    # 4 KB floor keeps >= 4 files even at the sf0.001 fixture) — the
    # strict-pruning invariants hold at every driver scale without the
    # sf1 bench paying a thousands-of-files write
    v0 = os.path.join(root, "v0")
    total = sum(
        os.path.getsize(os.path.join(v0, f))
        for f in os.listdir(v0) if f.endswith(".parquet")
    )
    optimize_table(spark, root, target_bytes=max(1 << 12, total // 24),
                   zorder_cols=["k", "v"])

    src = (
        e.filter(F.col("v") < _W2D)
        .groupBy("v")
        .agg(
            F.max("k").alias("k"),
            (F.max_by("val", "k") + F.lit(1000.0)).alias("val"),
        )
        .select("k", "v", "val")
    )
    st = merge_into_table(spark, root, src, ["v"], ddl, zone_key="v")
    tip = read_version(spark, root, ddl)
    vdir = os.path.join(root, f"v{st['version']}")
    rows, lst = point_lookup(spark, vdir, "k", [3, 101], schema_ddl=ddl)

    tot = tip.agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("val").alias("sum_val")
    )
    hits = rows.agg(
        F.count(F.lit(1)).alias("n_hit"), dsum("val").alias("sum_hit")
    )
    return tot.crossJoin(hits).select(
        F.lit(int(st["manifest_used"])).cast("long").alias("merge_manifest_used"),
        F.lit(int(st["files_candidates"] < st["files_total"])).cast("long")
        .alias("merge_pruned"),
        F.lit(int(lst["files_scanned"] < lst["files_total"])).cast("long")
        .alias("lookup_pruned"),
        F.col("n_rows").cast("long"),
        "sum_val",
        F.col("n_hit").cast("long"),
        "sum_hit",
    )


@query(
    "streaming_merge_concurrent",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), bA AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 30 AND event_type IN ('view', 'click')
    GROUP BY 1, 2
  ) WHERE d >= '{_CUTOFF}'
), bB AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 60 AND event_type NOT IN ('view', 'click')
    GROUP BY 1, 2
  ) WHERE d >= '{_CUTOFF}'
), final AS (
  SELECT f.d, f.event_type, f.n, f.n_users FROM full_run f
  WHERE NOT EXISTS (SELECT 1 FROM bA WHERE bA.d = f.d AND bA.event_type = f.event_type)
    AND NOT EXISTS (SELECT 1 FROM bB WHERE bB.d = f.d AND bB.event_type = f.event_type)
  UNION ALL SELECT * FROM bA
  UNION ALL SELECT * FROM bB
)
SELECT d, event_type, n, n_users,
       CAST(3 AS BIGINT) AS n_versions, CAST(2 AS BIGINT) AS n_txns
FROM final
""",
)
def streaming_merge_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO concurrent streaming writers on ONE version chain (VERDICT r09
    item 7): both availableNow streams run at the same time through
    stream_merge_concurrent — each micro-batch claims its version via
    merge_into_table's optimistic rebase-and-retry and records its
    (app_id, batch_id) txn tag in the commit marker. The two correction
    batches target DISJOINT key sets (view/click days vs the rest), so
    the final table is interleaving-independent; the hashed output is the
    table UNION-stamped with the committed version count (exactly v0+2 —
    serialized, no lost claim) and the applied-txn count (exactly 2 — no
    double-apply). A lost update, a doubled batch, or a wedged claim
    changes the hash.

    Scale shape: contention costs capped-exponential claim backoff, never
    a table scan; the txn check is a KB marker sweep per batch
    (streaming/joins.stream_merge_concurrent, sinks.applied_txns)."""
    from rca_data_tools_spark.sources.sinks import (
        applied_txns, committed_versions, create_table, read_version,
    )
    from rca_data_tools_spark.streaming.joins import stream_merge_concurrent

    ddl = "d string, event_type string, n bigint, n_users bigint"
    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="rca_conc_stream_")
    daily = _daily(e).select("d", "event_type", "n", "n_users")

    ab = F.col("event_type").isin("view", "click")
    batches = {
        "appA": _daily(e.filter((F.col("value") > 30) & ab)),
        "appB": _daily(e.filter((F.col("value") > 60) & ~ab)),
    }
    apps = list(batches)
    for app in apps:
        os.makedirs(os.path.join(root, f"feed_{app}"))
    # v0 create and the one-job two-feed staging run concurrently from a
    # thread pool (guide §2.6: independent jobs back-fill idle cores)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fv = pool.submit(create_table, daily, root, zone_key="d", n_files=4)
        ff = pool.submit(
            _stage_feed_files,
            spark,
            [
                batches[app]
                .filter(F.col("d") >= _CUTOFF)
                .select("d", "event_type", "n", "n_users")
                for app in apps
            ],
            ddl,
            [os.path.join(root, f"feed_{app}", "b0.parquet") for app in apps],
        )
        fv.result()
        ff.result()
    queries = []
    for app in apps:
        stream = spark.readStream.schema(ddl).parquet(
            os.path.join(root, f"feed_{app}")
        )
        queries.append(stream_merge_concurrent(
            stream, root, ["d", "event_type"], ddl,
            os.path.join(root, f"ck_{app}"), app,
        ))
    for q in queries:
        q.awaitTermination()

    tip = read_version(spark, root, ddl)
    return tip.select(
        "d", "event_type", "n", "n_users",
        F.lit(len(committed_versions(root))).cast("long").alias("n_versions"),
        F.lit(len(applied_txns(root))).cast("long").alias("n_txns"),
    )


@query(
    "sink_alter_constraints",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), b1 AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 50 GROUP BY 1, 2
  ) WHERE d >= '{_CUTOFF}'
), final AS (
  SELECT f.d, f.event_type,
         CASE WHEN b1.d IS NOT NULL THEN b1.n + 1000000 ELSE f.n END AS n,
         COALESCE(b1.n_users, f.n_users) AS n_users
  FROM full_run f LEFT JOIN b1 ON b1.d = f.d AND b1.event_type = f.event_type
)
SELECT d, event_type, n, n_users,
       'create,merge,alter_constraints,alter_constraints,merge' AS history_ops,
       'n_nonneg' AS live_constraints,
       CAST(1 AS BIGINT) AS add_rejected, CAST(1 AS BIGINT) AS merge_rejected
FROM final
""",
)
def sink_alter_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE ADD/DROP CONSTRAINT as chain commits (the Delta shape):
    the face drives create(n_nonneg) → merge → ADD a cap constraint
    (validates ALL existing data in one DV-aware scan — a content-neutral
    hardlink version lands, op recorded in DESCRIBE HISTORY) → a merge
    that violates the cap REFUSES in-plan (claim released, no version) →
    DROP the cap (second alter version) → the same merge now lands →
    an ADD whose rules the EXISTING data violates refuses with the claim
    released and the metadata untouched. Hashed output: the final table,
    the exact (create, merge, alter, alter, merge) op log, the surviving
    constraint names, and both refusal bits — a silently-admitted row, a
    ghost version, or metadata drift all poison the hash.

    Scale shape: each alter is O(files) hardlinks + one validation scan
    (add only); history stays KB marker reads
    (sinks.alter_table_constraints)."""
    from rca_data_tools_spark.sources.sinks import (
        alter_table_constraints, create_table, merge_into_table,
        read_version, table_constraints, table_history,
    )

    ddl = "d string, event_type string, n bigint, n_users bigint"
    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="rca_alter_")
    daily = _daily(e).select("d", "event_type", "n", "n_users")
    create_table(daily, root, zone_key="d", n_files=4,
                 constraints={"n_nonneg": "n >= 0"})
    keys = ["d", "event_type"]
    b1 = _daily(e.filter(F.col("value") > 50)).filter(
        F.col("d") >= _CUTOFF
    ).select("d", "event_type", "n", "n_users")
    merge_into_table(spark, root, b1, keys, ddl, zone_key="d")       # v1
    alter_table_constraints(spark, root, add={"n_cap": "n < 1000000"},
                            schema_ddl=ddl)                           # v2
    big = b1.select("d", "event_type",
                    (F.col("n") + F.lit(1000000)).alias("n"), "n_users")
    merge_rejected = 0
    try:
        merge_into_table(spark, root, big, keys, ddl, zone_key="d")
    except Exception:
        merge_rejected = 1  # the cap held; claim released
    alter_table_constraints(spark, root, drop=["n_cap"])              # v3
    merge_into_table(spark, root, big, keys, ddl, zone_key="d")       # v4
    add_rejected = 0
    try:
        # existing data now violates this: the ADD must refuse and leave
        # the metadata untouched
        alter_table_constraints(spark, root, add={"n_small": "n < 100000"},
                                schema_ddl=ddl)
    except ValueError:
        add_rejected = 1

    ops = ",".join(
        r["op"] for r in
        table_history(spark, root).orderBy("version").collect()
    )
    live = ",".join(sorted(table_constraints(root)))
    tip = read_version(spark, root, ddl)
    return tip.select(
        "d", "event_type", "n", "n_users",
        F.lit(ops).alias("history_ops"),
        F.lit(live).alias("live_constraints"),
        F.lit(add_rejected).cast("long").alias("add_rejected"),
        F.lit(merge_rejected).cast("long").alias("merge_rejected"),
    )


@query(
    "sink_vacuum_retention",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), b1 AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 50 GROUP BY 1, 2
  ) WHERE d >= '{_CUTOFF}'
), v2 AS (
  SELECT f.d, f.event_type, f.n, f.n_users FROM full_run f
  WHERE NOT EXISTS (SELECT 1 FROM b1 WHERE b1.d = f.d AND b1.event_type = f.event_type)
    AND f.event_type <> 'click'
  UNION ALL SELECT * FROM b1 WHERE event_type <> 'click'
)
SELECT d, event_type, n, n_users,
       'v0,v1' AS removed, 'v2,v3' AS kept,
       CAST(1 AS BIGINT) AS tip_still_reads,
       CAST(1 AS BIGINT) AS old_version_gone,
       CAST(1 AS BIGINT) AS bytes_freed_positive
FROM v2
""",
)
def sink_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Protocol-aware VACUUM as a driver-checked face: a four-version
    chain (create → merge → DV delete → OPTIMIZE) vacuums to keep_last=2
    — exactly v0 and v1 removed, v2 (the DV-bearing delete) and v3 kept,
    the tip still reads bit-identically (hardlink refcounting means
    removing old versions can never free a byte the survivors share),
    time travel to the reaped v0 is gone, and bytes were actually freed
    (v1's unshared parts). The hashed output states the removed/kept
    lists, the read-back, and the three invariants — a vacuum that reaps
    the wrong side, breaks the tip, or frees nothing poisons the hash.

    Scale shape: vacuum is one directory listing + rm of doomed version
    dirs; the filesystem is the refcount (sinks.vacuum_versions), the
    role a format's manifest plays for object-store files."""
    from rca_data_tools_spark.sources.sinks import (
        create_table, delete_into_table, merge_into_table, optimize_table,
        read_version, vacuum_versions,
    )

    ddl = "d string, event_type string, n bigint, n_users bigint"
    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="rca_vacuum_")
    daily = _daily(e).select("d", "event_type", "n", "n_users")
    create_table(daily, root, zone_key="d", n_files=4)
    keys = ["d", "event_type"]
    b1 = _daily(e.filter(F.col("value") > 50)).filter(
        F.col("d") >= _CUTOFF
    ).select("d", "event_type", "n", "n_users")
    merge_into_table(spark, root, b1, keys, ddl, zone_key="d")     # v1
    delete_into_table(spark, root, "event_type = 'click'", ddl)    # v2 (DV)
    optimize_table(spark, root, target_bytes=1 << 22)              # v3

    before = read_version(spark, root, ddl)
    before_rows = sorted(map(tuple, before.collect()))
    st = vacuum_versions(root, keep_last=2)

    tip = read_version(spark, root, ddl)
    tip_ok = int(sorted(map(tuple, tip.collect())) == before_rows)
    try:
        read_version(spark, root, ddl, n=0)
        gone = 0
    except ValueError:
        gone = 1
    return tip.select(
        "d", "event_type", "n", "n_users",
        F.lit(",".join(st["removed"])).alias("removed"),
        F.lit(",".join(st["kept"])).alias("kept"),
        F.lit(tip_ok).cast("long").alias("tip_still_reads"),
        F.lit(gone).cast("long").alias("old_version_gone"),
        F.lit(int(st["bytes_freed"] > 0)).cast("long").alias("bytes_freed_positive"),
    )


@query(
    "sink_range_scan_pruned",
    oracle=f"""
WITH t AS (
  SELECT event_id AS k, (event_id * 7919) % {_P2D} AS v, value AS val
  FROM events
),
live AS (SELECT * FROM t WHERE k % 7 <> 0),
hit AS (SELECT * FROM live WHERE v BETWEEN 200000 AND 300000)
SELECT CAST(1 AS BIGINT) AS scan_pruned,
       (SELECT COUNT(*) FROM hit) AS n_rows,
       (SELECT CAST(SUM(CAST(ROUND(val, 6) AS DECIMAL(28,6))) AS DOUBLE) FROM hit)
         AS sum_val,
       (SELECT CAST(SUM(k) AS BIGINT) FROM hit) AS sum_k
""",
)
def sink_range_scan_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The READ face of the multi-column zone-map manifest: after OPTIMIZE
    ZORDER(k, v) and a merge-on-read DELETE, a range scan on the SECOND
    clustering dimension (``range_scan``) resolves its candidate files
    from KB metadata — strictly fewer files opened than the table holds,
    hashed — subtracts the deletion vectors, and returns exactly the
    in-range surviving rows (content hashed too: pruning that drops a
    live file or resurrects a deleted row poisons the hash).

    Scale shape: the candidate list costs one manifest read (no footer
    opens), the scan is O(candidate files), the DV subtraction is the
    standard unhinted anti-join (sinks.range_scan /
    zonemap.prune_files)."""
    from rca_data_tools_spark.functions.numeric import dsum
    from rca_data_tools_spark.sources.sinks import (
        create_table, delete_into_table, latest_committed, optimize_table,
        range_scan,
    )

    ddl = "k bigint, v bigint, val double"
    e = load_table(spark, sf_dir, "events").select(
        F.col("event_id").alias("k"),
        ((F.col("event_id") * F.lit(7919)) % F.lit(_P2D)).alias("v"),
        F.col("value").alias("val"),
    )
    root = tempfile.mkdtemp(prefix="rca_rangescan_")
    create_table(e, root, zone_key="k", n_files=8)
    v0 = os.path.join(root, "v0")
    total = sum(
        os.path.getsize(os.path.join(v0, f))
        for f in os.listdir(v0) if f.endswith(".parquet")
    )
    optimize_table(spark, root, target_bytes=max(1 << 12, total // 24),
                   zorder_cols=["k", "v"])
    delete_into_table(spark, root, "k % 7 = 0", ddl)

    vdir = os.path.join(root, f"v{latest_committed(root)}")
    rows, st = range_scan(spark, vdir, "v", 200000, 300000, schema_ddl=ddl)
    return rows.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("val").alias("sum_val"),
        F.sum("k").alias("sum_k"),
    ).select(
        F.lit(int(st["files_scanned"] < st["files_total"])).cast("long")
        .alias("scan_pruned"),
        F.col("n_rows").cast("long"),
        "sum_val",
        F.col("sum_k").cast("long"),
    )


@query(
    "sink_merge_full_surface",
    oracle="""
WITH t AS (SELECT event_id, user_id, value FROM events),
mx AS (SELECT MAX(event_id) AS m FROM t),
src AS (
  SELECT event_id, user_id,
         value + CASE WHEN event_id % 20 = 0 THEN 1000.0 ELSE -50.0 END AS value
  FROM t WHERE event_id % 10 = 0
  UNION ALL
  SELECT event_id, user_id, -99999.0 AS value FROM t WHERE event_id % 10 = 1
  UNION ALL
  SELECT t.event_id + m + 1 AS event_id, user_id, value
  FROM t, mx WHERE event_id % 10 = 2
),
j AS (
  SELECT t.event_id AS t_id, s.event_id AS s_id,
         t.user_id AS t_user, s.user_id AS s_user,
         t.value AS t_val, s.value AS s_val
  FROM t FULL OUTER JOIN src s ON t.event_id = s.event_id
)
SELECT COALESCE(t_id, s_id) AS event_id,
  CASE WHEN t_id IS NULL THEN s_user
       WHEN s_id IS NOT NULL THEN
            (CASE WHEN s_val > t_val THEN s_user ELSE t_user END)
       WHEN t_val > 300 THEN t_user + 100000 ELSE t_user END AS user_id,
  CASE WHEN t_id IS NULL THEN s_val
       WHEN s_id IS NOT NULL THEN
            (CASE WHEN s_val > t_val THEN s_val ELSE t_val END)
       ELSE t_val END AS value
FROM j
WHERE CASE WHEN t_id IS NOT NULL AND s_id IS NOT NULL THEN NOT (s_val = -99999.0)
           WHEN t_id IS NULL THEN s_val > 100
           ELSE NOT (t_val < 5) END
""",
)
def sink_merge_full_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE MERGE clause surface as one chain DML (Delta's full
    ``MERGE INTO`` grammar, which merge_upsert's plain upsert lacks): the
    events table is the target, and ONE ``merge_table_full`` statement
    exercises every clause —

    - WHEN MATCHED AND s.value = -99999 THEN DELETE (tombstone feed rows,
      event_id % 10 = 1);
    - WHEN MATCHED AND s.value > t.value THEN UPDATE SET * (only IMPROVING
      corrections apply: % 20 = 0 rows gain +1000 and win, the other
      % 10 = 0 rows arrive 50 lower and the target row is KEPT);
    - WHEN NOT MATCHED AND value > 100 THEN INSERT * (fresh ids past the
      max; low-value inserts are dropped by the condition);
    - WHEN NOT MATCHED BY SOURCE AND value < 5 THEN DELETE (purge stale
      rows absent from the feed);
    - WHEN NOT MATCHED BY SOURCE AND value > 300 THEN UPDATE SET
      user_id = user_id + 100000 (flag untouched high-value rows).

    The final table content is returned in full — every clause's row set
    lands in the hash. The oracle replays the same semantics as one
    FULL OUTER JOIN + CASE in ANSI SQL.

    Scale shape: merge_full is ONE full-outer shuffle join on the key
    (single-side conditions precompute before the join); the chain face
    adds copy-on-write pruning — source-key files plus files holding a
    not-matched-by-source hit rewrite, the rest hardlink (here the value
    predicates are unclustered so most files rewrite; sink_merge_prune_2d
    covers the pruned shape). Commit protocol, constraint enforcement,
    and DESCRIBE HISTORY are shared with merge_into_table."""
    from rca_data_tools_spark.sources.sinks import (
        create_table, latest_committed, merge_table_full,
    )

    ddl = "event_id bigint, user_id bigint, value double"
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    root = tempfile.mkdtemp(prefix="rca_mergefull_")
    v0 = create_table(e, root, zone_key="event_id", n_files=8)
    # MAX(event_id) from the manifest the create just wrote — zero Spark
    # jobs (zonemap.manifest_zone_max; exact integer footer stats). Fallback
    # aggregate keeps the empty-corpus contract: MAX of zero rows is NULL
    # -> m=0 keeps every derived filter well-typed (and matching the
    # oracle, whose joins/filters are all vacuous on empty tables)
    _m = manifest_zone_max(v0, "event_id")
    if _m is None:
        _m = e.agg(F.max("event_id")).first()[0]
    m = int(_m) if _m is not None else 0

    upd = e.filter(F.col("event_id") % 10 == 0).withColumn(
        "value",
        F.col("value")
        + F.when(F.col("event_id") % 20 == 0, F.lit(1000.0)).otherwise(F.lit(-50.0)),
    )
    dele = e.filter(F.col("event_id") % 10 == 1).withColumn(
        "value", F.lit(-99999.0)
    )
    ins = e.filter(F.col("event_id") % 10 == 2).withColumn(
        "event_id", F.col("event_id") + F.lit(int(m) + 1)
    )
    merge_table_full(
        spark, root, upd.unionByName(dele).unionByName(ins),
        ["event_id"], ddl, zone_key="event_id",
        matched_update_cond="s.value > t.value",
        matched_delete_cond="s.value = -99999.0",
        insert_cond="value > 100",
        nmbs_update_set={"user_id": "user_id + 100000"},
        nmbs_update_cond="value > 300",
        nmbs_delete_cond="value < 5",
    )
    tip = os.path.join(root, f"v{latest_committed(root)}")
    return spark.read.schema(ddl).parquet(tip).select(
        "event_id", "user_id", "value"
    )


@query(
    "sink_kv_chain_roundtrip",
    oracle="""
WITH t AS (SELECT event_id, user_id, value FROM events),
mx AS (SELECT MAX(event_id) AS m FROM t),
upd AS (
  SELECT event_id, user_id, value + 1000 AS value
  FROM t, mx WHERE event_id >= m - m // 5
),
ins AS (
  SELECT event_id + m + 1 AS event_id, user_id, value
  FROM t, mx WHERE event_id < 512
),
src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
merged AS (
  SELECT * FROM t
  WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.event_id = t.event_id)
  UNION ALL SELECT * FROM src
),
final AS (SELECT * FROM merged WHERE event_id % 13 <> 0)
SELECT 1 AS pointer_carry, 1 AS delete_zero_rewrite, 1 AS store_dedup,
  (SELECT COUNT(*) FROM final) AS n_rows,
  (SELECT CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
     FROM final) AS sum_value,
  (SELECT MAX(event_id) FROM final) AS max_event
""",
)
def sink_kv_chain_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The version chain's DML run end-to-end against the OBJECT-STORE data
    plane (sources/kv_table.py — the follow-through on the r09 commit-store
    spike): data files are immutable BLOBS in a conditional-PUT key-value
    store, versions reference them via POINTER LINKS (manifest entries),
    and the local filesystem is only a download-once cache.

    create (8 clustered parts uploaded) → pruned MERGE (top-bucket updates
    + fresh inserts; carried files come back as pointer links — ZERO
    re-uploaded bytes, asserted by the ``pointer_carry`` bit) →
    deletion-vector DELETE (``delete_zero_rewrite``: every data file and
    the manifest ride pointers, only the DV sidecar uploads — the
    object-store cost profile DVs exist for) → the final version read back
    THROUGH its vectors from a materialized cache. ``store_dedup`` asserts
    physical blob bytes < the logical sum over versions (blocks are shared,
    not copied). Content (count / decimal sum / max id) is hashed against
    the plain-SQL replay, so the substrate swap cannot change one row.

    Scale shape: the SAME merge/delete plans as the local chain (nothing in
    the DML knows the substrate changed — the point of the port); per
    version the store pays O(new bytes) uploads + O(files) KB pointer PUTs,
    and reads pay O(missing blobs) downloads once per cache."""
    from rca_data_tools_spark.functions.numeric import dsum
    from rca_data_tools_spark.sources.commit_store import MemoryKVCommitStore
    from rca_data_tools_spark.sources.kv_table import KVTable, table_totals

    ddl = "event_id bigint, user_id bigint, value double"
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    store = MemoryKVCommitStore()
    t = KVTable(store, tempfile.mkdtemp(prefix="rca_kvchain_"))
    t.create(e, zone_key="event_id", n_files=8)

    # MAX(event_id) from the manifest the create just wrote — zero Spark
    # jobs (zonemap.manifest_zone_max; exact integer footer stats). Fallback
    # aggregate keeps the empty-corpus contract: MAX of zero rows is NULL
    # -> m=0 keeps every derived filter well-typed (and matching the
    # oracle, whose joins/filters are all vacuous on empty tables)
    _m = manifest_zone_max(os.path.join(t.cache_dir, "v0"), "event_id")
    if _m is None:
        _m = e.agg(F.max("event_id")).first()[0]
    m = int(_m) if _m is not None else 0
    # scale-relative update band (top ~20% of ids) so the carry invariant
    # holds at every SF — a fixed id width would rewrite the whole table
    # at small scales and prove nothing
    upd = e.filter(F.col("event_id") >= m - m // 5).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    )
    ins = e.filter(F.col("event_id") < 512).withColumn(
        "event_id", F.col("event_id") + F.lit(int(m) + 1)
    )
    mstats = t.merge(spark, upd.unionByName(ins), ["event_id"], ddl,
                     zone_key="event_id")
    dstats = t.delete_where(spark, "event_id % 13 = 0", ddl)
    tot = table_totals(store)

    pointer_carry = int(
        mstats["pointer_links"] > 0 and dstats["pointer_links"] > 0
        and mstats["files_rewritten"] < mstats["files_total"]
    )
    delete_zero_rewrite = int(
        dstats["files_rewritten"] == 0 and dstats["new_blobs"] >= 1
    )
    store_dedup = int(tot["physical_bytes"] < tot["logical_bytes"])

    return t.read(spark, ddl).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value").alias("sum_value"),
        F.max("event_id").alias("max_event"),
    ).select(
        F.lit(pointer_carry).cast("int").alias("pointer_carry"),
        F.lit(delete_zero_rewrite).cast("int").alias("delete_zero_rewrite"),
        F.lit(store_dedup).cast("int").alias("store_dedup"),
        F.col("n_rows").cast("long"),
        "sum_value",
        F.col("max_event").cast("long"),
    )


@query(
    "sink_merge_full_changes",
    oracle="""
WITH t AS (SELECT event_id, user_id, value FROM events),
mx AS (SELECT MAX(event_id) AS m FROM t),
src AS (
  SELECT event_id, user_id,
         value + CASE WHEN event_id % 20 = 0 THEN 1000.0 ELSE -50.0 END AS value
  FROM t WHERE event_id % 10 = 0
  UNION ALL
  SELECT event_id, user_id, -99999.0 AS value FROM t WHERE event_id % 10 = 1
  UNION ALL
  SELECT t.event_id + m + 1 AS event_id, user_id, value
  FROM t, mx WHERE event_id % 10 = 2
),
j AS (
  SELECT t.event_id AS t_id, s.event_id AS s_id,
         t.user_id AS t_user, s.user_id AS s_user,
         t.value AS t_val, s.value AS s_val
  FROM t FULL OUTER JOIN src s ON t.event_id = s.event_id
),
f AS (
  SELECT *,
    CASE WHEN t_id IS NOT NULL AND s_id IS NOT NULL AND s_val = -99999.0
              THEN 'delete'
         WHEN t_id IS NOT NULL AND s_id IS NOT NULL AND s_val > t_val
              THEN 'update'
         WHEN t_id IS NULL AND s_val > 100 THEN 'insert'
         WHEN s_id IS NULL AND t_val < 5 THEN 'delete'
         WHEN s_id IS NULL AND t_val > 300 THEN 'update'
    END AS op
  FROM j
)
SELECT COALESCE(t_id, s_id) AS event_id, op,
  CASE WHEN t_id IS NULL THEN NULL ELSE t_user END AS before_user_id,
  CASE WHEN op = 'delete' THEN NULL
       WHEN t_id IS NULL THEN s_user
       WHEN s_id IS NOT NULL THEN s_user
       ELSE t_user + 100000 END AS after_user_id,
  CASE WHEN t_id IS NULL THEN NULL ELSE t_val END AS before_value,
  CASE WHEN op = 'delete' THEN NULL
       WHEN t_id IS NULL THEN s_val
       WHEN s_id IS NOT NULL THEN s_val
       ELSE t_val END AS after_value
FROM f WHERE op IS NOT NULL
""",
)
def sink_merge_full_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL-FIDELITY change-data-feed of a full-clause MERGE
    (merge_full_changes, persisted by ``merge_table_full(changes_feed=
    True)``): the same five-clause statement as sink_merge_full_surface,
    but what is hashed here is the FEED — every insert/update/delete event
    with both before_* and after_* images, including the not-matched-by-
    source clauses' deletes and updates, and NOTHING for rows no clause
    touched (condition-failed updates/inserts, unmatched-kept targets) —
    the O(touched rows) contract that lets CDC consumers replay a merge
    instead of diffing O(table) snapshots. Feed and table output share one
    join/flag construction in the plan (``_merge_full_join``), so they
    cannot disagree about which clause fired; tests/test_merge_full.py
    additionally replays the feed and asserts replica ≡ table.

    Scale shape: one full-outer shuffle join on the key (the merge's own
    join shape), executor-written sidecar, zero driver row handling."""
    from rca_data_tools_spark.sources.sinks import (
        create_table, latest_committed, merge_table_full, read_changes,
    )

    ddl = "event_id bigint, user_id bigint, value double"
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    root = tempfile.mkdtemp(prefix="rca_mfcdf_")
    v0 = create_table(e, root, zone_key="event_id", n_files=8)
    # MAX(event_id) from the manifest the create just wrote — zero Spark
    # jobs (zonemap.manifest_zone_max; exact integer footer stats). Fallback
    # aggregate keeps the empty-corpus contract: MAX of zero rows is NULL
    # -> m=0 keeps every derived filter well-typed (and matching the
    # oracle, whose joins/filters are all vacuous on empty tables)
    _m = manifest_zone_max(v0, "event_id")
    if _m is None:
        _m = e.agg(F.max("event_id")).first()[0]
    m = int(_m) if _m is not None else 0

    upd = e.filter(F.col("event_id") % 10 == 0).withColumn(
        "value",
        F.col("value")
        + F.when(F.col("event_id") % 20 == 0, F.lit(1000.0)).otherwise(F.lit(-50.0)),
    )
    dele = e.filter(F.col("event_id") % 10 == 1).withColumn(
        "value", F.lit(-99999.0)
    )
    ins = e.filter(F.col("event_id") % 10 == 2).withColumn(
        "event_id", F.col("event_id") + F.lit(m + 1)
    )
    merge_table_full(
        spark, root, upd.unionByName(dele).unionByName(ins),
        ["event_id"], ddl, zone_key="event_id", changes_feed=True,
        matched_update_cond="s.value > t.value",
        matched_delete_cond="s.value = -99999.0",
        insert_cond="value > 100",
        nmbs_update_set={"user_id": "user_id + 100000"},
        nmbs_update_cond="value > 300",
        nmbs_delete_cond="value < 5",
    )
    feed = read_changes(spark, root, 0, latest_committed(root))
    return feed.select(
        "event_id", "op",
        "before_user_id", "after_user_id", "before_value", "after_value",
    )


@query(
    "streaming_merge_full",
    oracle="""
SELECT event_id, user_id,
       value + CASE WHEN event_id % 2 = 0 THEN 20.0
                    WHEN event_id % 3 <> 0 THEN 10.0
                    ELSE 5.0 END AS value,
       CAST(3 AS BIGINT) AS n_versions,
       CAST(2 AS BIGINT) AS n_txns
FROM events WHERE event_id % 4 <> 0
""",
)
def streaming_merge_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING snapshot-sync through the full-clause MERGE
    (streaming/joins.stream_merge_full): two micro-batches, each a
    COMPLETE source snapshot, drive the version chain —

    - batch 0: ids with ``%3 != 0`` at value+10 — matched rows update
      (``s.value > t.value`` holds), every other base row is purged by the
      NOT-MATCHED-BY-SOURCE DELETE (the sync semantics NMBS exists for);
    - batch 1: ids with ``%4 != 0`` at value + (20 if even else 5) — even
      ids improve and update, odd ids arrive LOWER (5 < 10) so surviving
      %3!=0 rows KEEP their batch-0 value (the conditional-update face),
      ids the first snapshot dropped re-INSERT, ids absent from snapshot 2
      purge.

    The final table is therefore a three-way mix of both snapshots and the
    clause conditions — a missed purge, a wrongly-applied non-improving
    update, a lost re-insert, or a double-applied batch all poison the
    hash; the stamps assert exactly v0+2 serialized versions and exactly 2
    applied txn tags (exactly-once via the (app, batch) marker tags, same
    as streaming_merge_concurrent).

    Scale shape: per batch merge_full_pruned's two-sided rewrite set; with
    an always-true NMBS condition the snapshot-sync honestly touches the
    whole table — the cost of the sync contract, documented in
    stream_merge_full."""
    from rca_data_tools_spark.sources.sinks import (
        applied_txns, committed_versions, create_table, read_version,
    )
    from rca_data_tools_spark.streaming.joins import stream_merge_full

    ddl = "event_id bigint, user_id bigint, value double"
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    root = tempfile.mkdtemp(prefix="rca_streamfull_")
    troot = os.path.join(root, "t")
    os.makedirs(troot)
    create_table(e, troot, zone_key="event_id", n_files=8)

    snap0 = e.filter(F.col("event_id") % 3 != 0).withColumn(
        "value", F.col("value") + F.lit(10.0)
    )
    snap1 = e.filter(F.col("event_id") % 4 != 0).withColumn(
        "value",
        F.col("value")
        + F.when(F.col("event_id") % 2 == 0, F.lit(20.0)).otherwise(F.lit(5.0)),
    )
    feed = os.path.join(root, "feed")
    os.makedirs(feed)
    for i, b in enumerate([snap0, snap1]):
        stage = os.path.join(root, f"stage{i}")
        b.coalesce(1).write.parquet(stage)
        part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
        dst = os.path.join(feed, f"snapshot-{i}.parquet")
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (1_000_000 + i * 10, 1_000_000 + i * 10))

    stream = (
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(feed)
    )
    q = stream_merge_full(
        stream, troot, ["event_id"], ddl, os.path.join(root, "ckpt"), "syncA",
        zone_key="event_id",
        matched_update_cond="s.value > t.value",
        nmbs_delete_cond="true",
    )
    q.awaitTermination()

    tip = read_version(spark, troot, ddl)
    return tip.select(
        "event_id", "user_id", "value",
        F.lit(len(committed_versions(troot))).cast("long").alias("n_versions"),
        F.lit(len(applied_txns(troot))).cast("long").alias("n_txns"),
    )


@query(
    "sink_column_mapping",
    oracle="""
WITH t AS (SELECT event_id, user_id, value FROM events),
mx AS (SELECT MAX(event_id) AS m FROM t),
final AS (
  SELECT event_id,
    CASE WHEN event_id < 256 THEN user_id + 7 ELSE user_id END AS device_id,
    CASE WHEN event_id < 256 THEN value * 2
         WHEN event_id >= m - m // 5 THEN value + 1000
         ELSE value END AS reading
  FROM t, mx
  UNION ALL
  SELECT event_id + m + 1, user_id, value
  FROM t, mx WHERE event_id >= 256 AND event_id < 384
)
SELECT event_id, device_id, reading,
       CAST(1 AS BIGINT) AS rename_zero_copy,
       'create,merge,rename_column,merge' AS history_ops
FROM final
""",
)
def sink_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN MAPPING — rename without rewriting a byte (the Delta
    column-mapping shape): the chain runs create → physical MERGE (top-band
    corrections) → ``alter_table_rename_column`` (value→reading,
    user_id→device_id; a metadata-only chain commit — the
    ``rename_zero_copy`` bit asserts every data file of the rename version
    is the SAME INODE as its predecessor) → a second MERGE addressed
    entirely in the NEW LOGICAL names (``merge_table_logical`` translates
    the frame and keys to the files' physical names at the boundary) → the
    final table read back under logical names. The hashed content proves
    both merges landed in the right physical slots across the rename;
    history_ops pins the rename as a first-class logged commit.

    Scale shape: the rename is O(files) hardlinks + one KB metadata write
    at ANY table size — the whole point vs a rewrite; the logical
    translation is a projection (zero cost); merges keep their pruned COW
    shape. tests/test_column_mapping.py covers chained renames, collision/
    missing refusals with claim release, constraint survival, and clone
    metadata independence."""
    from rca_data_tools_spark.sources.sinks import (
        alter_table_rename_column, create_table, merge_into_table,
        merge_table_logical, read_version_logical,
    )

    ddl = "event_id bigint, user_id bigint, value double"
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    root = tempfile.mkdtemp(prefix="rca_colmap_")
    v0 = create_table(e, root, zone_key="event_id", n_files=8)
    # MAX(event_id) from the manifest the create just wrote — zero Spark
    # jobs (zonemap.manifest_zone_max; exact integer footer stats). Fallback
    # aggregate keeps the empty-corpus contract: MAX of zero rows is NULL
    # -> m=0 keeps every derived filter well-typed (and matching the
    # oracle, whose joins/filters are all vacuous on empty tables)
    _m = manifest_zone_max(v0, "event_id")
    if _m is None:
        _m = e.agg(F.max("event_id")).first()[0]
    m = int(_m) if _m is not None else 0

    # v1: physical-name merge (top ~20% of ids corrected by +1000)
    b1 = e.filter(F.col("event_id") >= m - m // 5).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    )
    merge_into_table(spark, root, b1, ["event_id"], ddl, zone_key="event_id")

    # v2: the rename, zero-copy (inode identity checked below)
    alter_table_rename_column(
        root, {"value": "reading", "user_id": "device_id"}, ddl
    )
    prev = {
        f: os.stat(os.path.join(root, "v1", f)).st_ino
        for f in os.listdir(os.path.join(root, "v1")) if f.endswith(".parquet")
    }
    now = {
        f: os.stat(os.path.join(root, "v2", f)).st_ino
        for f in os.listdir(os.path.join(root, "v2")) if f.endswith(".parquet")
    }
    zero_copy = int(prev == now and len(now) > 0)

    # v3: a merge addressed ONLY in logical names — low-id updates + inserts
    b2_upd = e.filter(F.col("event_id") < 256).select(
        "event_id",
        (F.col("user_id") + F.lit(7)).alias("device_id"),
        (F.col("value") * F.lit(2.0)).alias("reading"),
    )
    b2_ins = e.filter(
        (F.col("event_id") >= 256) & (F.col("event_id") < 384)
    ).select(
        (F.col("event_id") + F.lit(m + 1)).alias("event_id"),
        F.col("user_id").alias("device_id"),
        F.col("value").alias("reading"),
    )
    merge_table_logical(
        spark, root, b2_upd.unionByName(b2_ins), ["event_id"], ddl,
        zone_key="event_id",
    )

    from rca_data_tools_spark.sources.sinks import table_history

    ops = ",".join(r["op"] for r in table_history(spark, root).collect())
    return read_version_logical(spark, root, ddl).select(
        "event_id", "device_id", "reading",
        F.lit(zero_copy).cast("long").alias("rename_zero_copy"),
        F.lit(ops).alias("history_ops"),
    )


@query(
    "sink_drop_column",
    oracle="""
WITH t AS (SELECT event_id, user_id, value FROM events),
mx AS (SELECT MAX(event_id) AS m FROM t),
final AS (
  SELECT event_id,
    CASE WHEN event_id % 5 = 0 THEN value + 7
         WHEN event_id >= m - m // 5 THEN value + 1000
         ELSE value END AS value
  FROM t, mx
  UNION ALL
  SELECT event_id + m + 1, value FROM t, mx WHERE event_id < 128
)
SELECT event_id, value,
       CAST(1 AS BIGINT) AS drop_zero_copy,
       'create,merge,drop_column,merge' AS history_ops
FROM final
""",
)
def sink_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DROP COLUMN without rewriting a byte (completes the schema-evolution
    triple: ADD via merge_evolved, RENAME via sink_column_mapping, DROP
    here): create → physical MERGE (top-band +1000) →
    ``alter_table_drop_column('user_id')`` — a metadata-only chain commit
    (``drop_zero_copy`` asserts inode identity with the predecessor; the
    physical bytes stay in the files until a rewrite) → a LOGICAL merge
    that no longer mentions the column (%5 corrections + low-id inserts;
    the dead physical slot is NULL-filled in rewritten files, invisible to
    every logical read) → the final table read under logical names. The
    hashed content proves the drop never leaked into visible data and the
    post-drop merge landed correctly; history_ops pins the drop as a
    logged commit. Refusals (zone-map key, constraint-referenced column,
    unknown name) are pytest-covered with claim release.

    Scale shape: the drop is O(files) hardlinks + one KB metadata write at
    any table size; the logical projection is free; post-drop merges keep
    the pruned COW shape with one extra NULL column in the rewrite."""
    from rca_data_tools_spark.sources.sinks import (
        alter_table_drop_column, create_table, merge_into_table,
        merge_table_logical, read_version_logical, table_history,
    )

    ddl = "event_id bigint, user_id bigint, value double"
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    root = tempfile.mkdtemp(prefix="rca_dropcol_")
    v0 = create_table(e, root, zone_key="event_id", n_files=8)
    # MAX(event_id) from the manifest the create just wrote — zero Spark
    # jobs (zonemap.manifest_zone_max; exact integer footer stats). Fallback
    # aggregate keeps the empty-corpus contract: MAX of zero rows is NULL
    # -> m=0 keeps every derived filter well-typed (and matching the
    # oracle, whose joins/filters are all vacuous on empty tables)
    _m = manifest_zone_max(v0, "event_id")
    if _m is None:
        _m = e.agg(F.max("event_id")).first()[0]
    m = int(_m) if _m is not None else 0

    b1 = e.filter(F.col("event_id") >= m - m // 5).withColumn(
        "value", F.col("value") + F.lit(1000.0)
    )
    merge_into_table(spark, root, b1, ["event_id"], ddl, zone_key="event_id")

    alter_table_drop_column(root, ["user_id"], ddl)
    prev = {
        f: os.stat(os.path.join(root, "v1", f)).st_ino
        for f in os.listdir(os.path.join(root, "v1")) if f.endswith(".parquet")
    }
    now = {
        f: os.stat(os.path.join(root, "v2", f)).st_ino
        for f in os.listdir(os.path.join(root, "v2")) if f.endswith(".parquet")
    }
    zero_copy = int(prev == now and len(now) > 0)

    b2_upd = e.filter(F.col("event_id") % 5 == 0).select(
        "event_id", (F.col("value") + F.lit(7.0)).alias("value")
    )
    b2_ins = e.filter(F.col("event_id") < 128).select(
        (F.col("event_id") + F.lit(m + 1)).alias("event_id"), "value"
    )
    merge_table_logical(
        spark, root, b2_upd.unionByName(b2_ins), ["event_id"], ddl,
        zone_key="event_id",
    )
    ops = ",".join(r["op"] for r in table_history(spark, root).collect())
    return read_version_logical(spark, root, ddl).select(
        "event_id", "value",
        F.lit(zero_copy).cast("long").alias("drop_zero_copy"),
        F.lit(ops).alias("history_ops"),
    )


@query(
    "sink_kv_http_roundtrip",
    oracle="""
WITH t AS (SELECT event_id, user_id, value FROM events),
mx AS (SELECT MAX(event_id) AS m FROM t),
upd AS (
  SELECT event_id, user_id, value + 1000 AS value
  FROM t, mx WHERE event_id >= m - m // 5
),
ins AS (
  SELECT event_id + m + 1 AS event_id, user_id, value
  FROM t, mx WHERE event_id < 512
),
src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
merged AS (
  SELECT * FROM t
  WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.event_id = t.event_id)
  UNION ALL SELECT * FROM src
),
final AS (SELECT * FROM merged WHERE event_id % 13 <> 0)
SELECT 1 AS pointer_carry, 1 AS executor_fetch, 1 AS cold_cache_equal,
  (SELECT COUNT(*) FROM final) AS n_rows,
  (SELECT CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
     FROM final) AS sum_value,
  (SELECT MAX(event_id) FROM final) AS max_event
""",
)
def sink_kv_http_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The object-store data plane against a LIVE HTTP STORE (VERDICT r10
    item 5: a real client behind CommitStore, not only the in-memory
    model): the same chain DML as ``sink_kv_chain_roundtrip`` — create →
    pruned MERGE → deletion-vector DELETE — but every claim is a real
    ``PUT If-None-Match: *`` against a localhost object server
    (sources/kv_http.py), every blob a streamed HTTP upload, every pointer
    a KB PUT. The read back is from a COLD CACHE in a fresh adapter, with
    the missing blobs fetched by EXECUTOR TASKS (``blob_url`` GETs in a
    Spark job — VERDICT r10 item 6: the cluster moves the data bytes, the
    driver only the pointer list; ``executor_fetch`` asserts the fetch ran
    across ≥2 parallel tasks and every blob came over the wire).
    ``cold_cache_equal`` asserts the cold-cache read reproduces the warm
    one exactly — the bytes' only authority is the store.

    Scale shape: identical plans to the local chain; the store pays O(new
    bytes) streamed uploads + O(files) pointer PUTs per version; a cold
    read fans its GETs across the cluster."""
    from rca_data_tools_spark.functions.numeric import dsum
    from rca_data_tools_spark.sources.kv_http import (
        HttpKVCommitStore, LocalKVServer,
    )
    from rca_data_tools_spark.sources.kv_table import KVTable

    ddl = "event_id bigint, user_id bigint, value double"
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    with LocalKVServer(tempfile.mkdtemp(prefix="rca_kvsrv_")) as srv:
        store = HttpKVCommitStore(srv.url)
        t = KVTable(store, tempfile.mkdtemp(prefix="rca_kvhttp_"))
        t.create(e, zone_key="event_id", n_files=8)
        # MAX(event_id) from the manifest the create just wrote (zero
        # Spark jobs); aggregate fallback keeps the empty-corpus contract
        _m = manifest_zone_max(os.path.join(t.cache_dir, "v0"), "event_id")
        if _m is None:
            _m = e.agg(F.max("event_id")).first()[0]
        m = int(_m) if _m is not None else 0
        upd = e.filter(F.col("event_id") >= m - m // 5).withColumn(
            "value", F.col("value") + F.lit(1000.0)
        )
        ins = e.filter(F.col("event_id") < 512).withColumn(
            "event_id", F.col("event_id") + F.lit(int(m) + 1)
        )
        mstats = t.merge(spark, upd.unionByName(ins), ["event_id"], ddl,
                         zone_key="event_id")
        dstats = t.delete_where(spark, "event_id % 13 = 0", ddl)
        warm = t.read(spark, ddl).agg(
            F.count(F.lit(1)), dsum("value"), F.max("event_id")
        ).first()

        # cold cache: fresh adapter, executor-side distributed fetch
        t2 = KVTable(store, tempfile.mkdtemp(prefix="rca_kvhttp_cold_"))
        tip = store.latest_committed()
        records = t2._fetch_missing_distributed(spark, store.list_files(tip))
        executor_fetch = int(
            records is not None
            and len({p for (_, _, p) in records}) >= 2
            and all(nb > 0 for (_, nb, _) in records)
        )
        cold = t2.read(spark, ddl).agg(
            F.count(F.lit(1)), dsum("value"), F.max("event_id")
        ).first()
        cold_cache_equal = int(tuple(warm) == tuple(cold))
        pointer_carry = int(
            mstats["pointer_links"] > 0 and dstats["files_rewritten"] == 0
        )
        n_rows, sum_value, max_event = cold[0], cold[1], cold[2]
    return local_rows_df(
        spark,
        [(pointer_carry, executor_fetch, cold_cache_equal,
          n_rows, float(sum_value) if sum_value is not None else None,
          max_event)],
        "pointer_carry int, executor_fetch int, cold_cache_equal int, "
        "n_rows long, sum_value double, max_event long",
    )


@query(
    "sink_lease_takeover",
    oracle="""
WITH t AS (SELECT event_id, user_id, value FROM events),
src AS (
  SELECT event_id, user_id, value + 500 AS value
  FROM t WHERE event_id % 11 = 0
),
final AS (
  SELECT * FROM t
  WHERE NOT EXISTS (SELECT 1 FROM src WHERE src.event_id = t.event_id)
  UNION ALL SELECT * FROM src
)
SELECT 1 AS takeover_happened, 1 AS single_commit,
  (SELECT COUNT(*) FROM final) AS n_rows,
  (SELECT CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
     FROM final) AS sum_value
""",
)
def sink_lease_takeover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEASE TAKEOVER of a crashed writer's claim (VERDICT r10 item 7): a
    writer claims the next version and dies without publishing — on a
    local-FS chain that wedges every later writer until manual surgery;
    on the conditional-PUT store the claim carries a lease timestamp, and
    a writer that finds it expired claims the SUCCESSOR GENERATION
    (put-if-absent — exactly one taker) and proceeds. The version's marker
    is itself a conditional PUT recording the winning generation, so a
    revived zombie can publish FIRST but never AS WELL (the race fuzzer in
    tests/test_commit_store.py proves at-most-one commit per version).

    The face stages the crash (an orphan claim at tip+1), then runs a
    pruned MERGE with ``lease_ttl`` — ``takeover_happened`` asserts the
    merge landed at the WEDGED version number under generation ≥ 1 and
    ``single_commit`` that exactly one marker exists for it. Content is
    hashed against the plain-SQL merge replay."""
    import time as _time

    from rca_data_tools_spark.functions.numeric import dsum
    from rca_data_tools_spark.sources.commit_store import MemoryKVCommitStore
    from rca_data_tools_spark.sources.kv_table import KVTable

    ddl = "event_id bigint, user_id bigint, value double"
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    store = MemoryKVCommitStore()
    t = KVTable(store, tempfile.mkdtemp(prefix="rca_lease_"))
    t.create(e, zone_key="event_id", n_files=8)

    # the crash: an orphan claim at tip+1, never published, never released
    assert store.try_claim(1)
    _time.sleep(0.12)

    src = e.filter(F.col("event_id") % 11 == 0).withColumn(
        "value", F.col("value") + F.lit(500.0)
    )
    out = t.merge(spark, src, ["event_id"], ddl, zone_key="event_id",
                  lease_ttl=0.1)
    marker = store.read_marker(out["version"])
    takeover_happened = int(
        out["version"] == 1 and marker is not None and marker.get("gen", 0) >= 1
    )
    single_commit = int(len([v for v in store.committed() if v == 1]) == 1)
    return t.read(spark, ddl).agg(
        F.count(F.lit(1)).alias("n_rows"), dsum("value").alias("sum_value")
    ).select(
        F.lit(takeover_happened).cast("int").alias("takeover_happened"),
        F.lit(single_commit).cast("int").alias("single_commit"),
        F.col("n_rows").cast("long"),
        "sum_value",
    )


@query(
    "sink_versioned_metadata",
    oracle="""
WITH t AS (SELECT event_id, user_id, value FROM events),
mx AS (SELECT MAX(event_id) AS m FROM t),
merged AS (  -- v1: physical merge (low-band corrections)
  SELECT event_id, user_id,
         CASE WHEN event_id % 9 = 0 THEN value + 250 ELSE value END AS value
  FROM t
),
logical AS (  -- v3: logical-name merge through the v2 rename
  SELECT event_id, user_id,
         CASE WHEN event_id % 9 = 0 THEN value + 250 ELSE value END
           + CASE WHEN event_id % 4 = 0 THEN 13 ELSE 0 END AS value
  FROM t
)
SELECT 1 AS v1_old_names, 1 AS tip_new_names, 1 AS restore_rolls_schema,
  (SELECT COUNT(*) FROM merged) AS n_rows,
  (SELECT CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
     FROM merged) AS sum_after_restore,
  (SELECT CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(28,6))) AS DOUBLE)
     FROM logical) AS sum_at_v3
""",
)
def sink_versioned_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERSIONED TABLE METADATA (VERDICT r10 item 4 — Delta semantics):
    each metadata commit carries its OWN document inside the version
    directory, so TIME TRAVEL resolves the logical schema the version was
    committed under, not the current one. The chain: create → physical
    MERGE (v1) → RENAME value→reading (v2, zero-copy) → logical merge in
    the NEW names (v3) → RESTORE to v1 (v4). Asserted in-band:
    ``v1_old_names`` (a logical read of v1 — PRE-rename — shows the OLD
    column), ``tip_new_names`` (v3 showed the new one), and
    ``restore_rolls_schema`` (after the restore the TIP is back to the old
    schema — metadata restores WITH the data). Content hashes pin both the
    restored snapshot and the pre-restore v3 aggregate, so the metadata
    walk cannot silently change a value.

    Scale shape: per-version docs are KB files resolved by an O(versions)
    metadata walk — zero data reads; renames/restores stay O(files)
    hardlinks."""
    from rca_data_tools_spark.functions.numeric import dsum
    from rca_data_tools_spark.sources.sinks import (
        alter_table_rename_column, create_table, merge_into_table,
        merge_table_logical, read_version_logical, restore_table,
    )

    ddl = "event_id bigint, user_id bigint, value double"
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    root = tempfile.mkdtemp(prefix="rca_vmeta_")
    create_table(e, root, zone_key="event_id", n_files=8)

    b1 = e.filter(F.col("event_id") % 9 == 0).withColumn(
        "value", F.col("value") + F.lit(250.0)
    )
    merge_into_table(spark, root, b1, ["event_id"], ddl, zone_key="event_id")  # v1
    alter_table_rename_column(root, {"value": "reading"}, ddl)                 # v2
    b2 = e.filter(F.col("event_id") % 4 == 0).select(
        "event_id", "user_id", F.lit(13.0).alias("reading")
    ).join(
        read_version_logical(spark, root, ddl, n=2)
        .select("event_id", F.col("reading").alias("__cur")),
        "event_id",
    ).select(
        "event_id", "user_id", (F.col("__cur") + F.col("reading")).alias("reading")
    )
    merge_table_logical(spark, root, b2, ["event_id"], ddl,
                        zone_key="event_id")                                   # v3
    v3_sum = read_version_logical(spark, root, ddl, n=3).agg(
        dsum("reading")
    ).first()[0]
    tip_new_names = int(
        read_version_logical(spark, root, ddl, n=3).columns
        == ["event_id", "user_id", "reading"]
    )
    v1_old_names = int(
        read_version_logical(spark, root, ddl, n=1).columns
        == ["event_id", "user_id", "value"]
    )
    restore_table(root, 1)                                                     # v4
    restore_rolls_schema = int(
        read_version_logical(spark, root, ddl).columns
        == ["event_id", "user_id", "value"]
    )
    return read_version_logical(spark, root, ddl).agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("value").alias("sum_after_restore"),
    ).select(
        F.lit(v1_old_names).cast("int").alias("v1_old_names"),
        F.lit(tip_new_names).cast("int").alias("tip_new_names"),
        F.lit(restore_rolls_schema).cast("int").alias("restore_rolls_schema"),
        F.col("n_rows").cast("long"),
        "sum_after_restore",
        F.lit(float(v3_sum) if v3_sum is not None else None)
        .cast("double").alias("sum_at_v3"),
    )


@query(
    "sink_changes_logical",
    oracle="""
WITH t AS (SELECT event_id, user_id, value FROM events),
mx AS (SELECT MAX(event_id) AS m FROM t),
v1src AS (
  SELECT event_id, user_id, value + 100 AS value FROM t WHERE event_id % 7 = 0
  UNION ALL
  SELECT event_id + m + 1, user_id, value FROM t, mx WHERE event_id < 64
),
v1feed AS (
  SELECT s.event_id,
         CASE WHEN b.event_id IS NULL THEN 'insert' ELSE 'update' END AS op,
         b.user_id AS before_device_id, s.user_id AS after_device_id,
         b.value AS before_reading, s.value AS after_reading,
         1 AS _version
  FROM v1src s LEFT JOIN t b ON b.event_id = s.event_id
),
post1 AS (
  SELECT * FROM t
  WHERE NOT EXISTS (SELECT 1 FROM v1src s WHERE s.event_id = t.event_id)
  UNION ALL SELECT * FROM v1src
),
v3src AS (
  SELECT event_id, user_id + 9 AS device_id, -1.5 * event_id + 0.0 AS reading
  FROM t WHERE event_id % 5 = 0
  UNION ALL
  SELECT event_id + 2 * m + 2, user_id, -2.0 AS reading FROM t, mx
  WHERE event_id < 32
),
v3feed AS (
  SELECT s.event_id,
         CASE WHEN b.event_id IS NULL THEN 'insert' ELSE 'update' END AS op,
         b.user_id AS before_device_id, s.device_id AS after_device_id,
         b.value AS before_reading, s.reading AS after_reading,
         3 AS _version
  FROM v3src s LEFT JOIN post1 b ON b.event_id = s.event_id
)
SELECT * FROM v1feed UNION ALL SELECT * FROM v3feed
""",
)
def sink_changes_logical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change-data-feed read ACROSS A RENAME under logical names
    (``sinks.read_changes_logical`` — the CDF half of the versioned-
    metadata story): v1 merges under the PHYSICAL names (value/user_id,
    feed persisted), v2 renames value→reading and user_id→device_id
    (zero-copy metadata commit), v3 merges addressed entirely in the NEW
    logical names (feed persisted). The full-range feed then reads with
    EVERY event — including v1's, written before the rename existed —
    under the END version's logical names (before_reading/after_reading,
    before_device_id/after_device_id): physical sidecars keep their
    creation-time names forever, the projection is resolved from the end
    version's own metadata doc. The oracle replays both merges' exact
    feed semantics (one row per source key, update/insert vs the
    then-current table) with the post-rename names.

    Scale shape: the feed is O(touched rows) per version; the logical
    translation is a zero-cost projection; the rename never rewrote a
    byte."""
    from rca_data_tools_spark.sources.sinks import (
        alter_table_rename_column, create_table, merge_into_table,
        merge_table_logical, read_changes_logical,
    )

    ddl = "event_id bigint, user_id bigint, value double"
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    root = tempfile.mkdtemp(prefix="rca_cdflog_")
    v0 = create_table(e, root, zone_key="event_id", n_files=8)
    # MAX(event_id) from the manifest the create just wrote (zero Spark
    # jobs); aggregate fallback keeps the empty-corpus contract
    _m = manifest_zone_max(v0, "event_id")
    if _m is None:
        _m = e.agg(F.max("event_id")).first()[0]
    m = int(_m) if _m is not None else 0

    v1 = e.filter(F.col("event_id") % 7 == 0).withColumn(
        "value", F.col("value") + F.lit(100.0)
    ).unionByName(
        e.filter(F.col("event_id") < 64).withColumn(
            "event_id", F.col("event_id") + F.lit(m + 1)
        )
    )
    merge_into_table(spark, root, v1, ["event_id"], ddl, zone_key="event_id",
                     changes_feed=True)                                    # v1
    alter_table_rename_column(
        root, {"value": "reading", "user_id": "device_id"}, ddl
    )                                                                      # v2
    v3 = e.filter(F.col("event_id") % 5 == 0).select(
        "event_id",
        (F.col("user_id") + F.lit(9)).alias("device_id"),
        # + 0.0 normalizes IEEE -0.0 at event_id=0 identically in both engines
        (F.col("event_id") * F.lit(-1.5) + F.lit(0.0)).alias("reading"),
    ).unionByName(
        e.filter(F.col("event_id") < 32).select(
            (F.col("event_id") + F.lit(2 * m + 2)).alias("event_id"),
            F.col("user_id").alias("device_id"),
            F.lit(-2.0).alias("reading"),
        )
    )
    merge_table_logical(spark, root, v3, ["event_id"], ddl,
                        zone_key="event_id", changes_feed=True)            # v3
    return read_changes_logical(spark, root, 0).select(
        "event_id", "op", "before_device_id", "after_device_id",
        "before_reading", "after_reading",
        F.col("_version").cast("int").alias("_version"),
    )


@query(
    "streaming_merge_kv",
    oracle=f"""
WITH full_run AS (
  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
         COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1, 2
), b1 AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 30 GROUP BY 1, 2
  ) WHERE d >= '{_SM_CUT1}'
), b2 AS (
  SELECT * FROM (
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d, event_type,
           COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
    FROM events WHERE value > 60 GROUP BY 1, 2
  ) WHERE d >= '{_SM_CUT2}'
),
merged AS (
  SELECT f.d, f.event_type, f.n, f.n_users FROM full_run f
  WHERE NOT EXISTS (SELECT 1 FROM b1 WHERE b1.d = f.d AND b1.event_type = f.event_type)
    AND NOT EXISTS (SELECT 1 FROM b2 WHERE b2.d = f.d AND b2.event_type = f.event_type)
  UNION ALL
  SELECT o.d, o.event_type, o.n, o.n_users FROM b1 o
  WHERE NOT EXISTS (SELECT 1 FROM b2 WHERE b2.d = o.d AND b2.event_type = o.event_type)
  UNION ALL
  SELECT d, event_type, n, n_users FROM b2
)
SELECT 1 AS exactly_once, 1 AS pointer_carry, 1 AS replay_noop,
  (SELECT COUNT(*) FROM merged) AS n_rows,
  (SELECT CAST(SUM(n) AS BIGINT) FROM merged) AS sum_n,
  (SELECT COUNT(*) FROM merged WHERE n_users IS NOT NULL) AS n_nonnull
""",
)
def streaming_merge_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming ingest STRAIGHT ONTO THE OBJECT-STORE DATA
    PLANE (streaming/joins.stream_merge_kv): the daily rollup is v0 of a
    ``KVTable`` over the conditional-PUT store; two correction batches
    drain through ``readStream(maxFilesPerTrigger=1)`` + availableNow, and
    every micro-batch claims → pruned-merges → publishes an immutable
    object-store version — carried files as pointer links, new parts as
    streamed blob uploads, the same plans as the local chain.

    Exactly-once is asserted THREE ways in-band: ``exactly_once`` (both
    batches' ``{app, batch}`` txn tags in committed markers, no
    duplicates), ``replay_noop`` (re-draining the SAME feed against a
    FRESH checkpoint — the crash-replay shape — commits no new version:
    the tags are found in the markers and every batch no-ops), and the
    hashed final content equals the sequential-merge SQL replay.
    ``pointer_carry`` asserts the second batch's version carried untouched
    files by pointer (zero re-uploaded bytes for them).

    Scale shape: per batch O(touched files) rewrite + O(new bytes)
    uploads + KB pointer/marker PUTs; the stream holds no state — the
    STORE is the state, and any reader materializes the tip from
    pointers."""
    from rca_data_tools_spark.functions.numeric import dsum  # noqa: F401
    from rca_data_tools_spark.sources.commit_store import MemoryKVCommitStore
    from rca_data_tools_spark.sources.kv_table import KVTable
    from rca_data_tools_spark.streaming.joins import stream_merge_kv

    ddl = "d string, event_type string, n bigint, n_users bigint"
    e = load_table(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="rca_stream_kv_")
    store = MemoryKVCommitStore()
    t = KVTable(store, os.path.join(root, "cache"))

    feed = os.path.join(root, "feed")
    os.makedirs(feed)
    batches = [
        _daily(e.filter(F.col("value") > 30)).filter(F.col("d") >= _SM_CUT1),
        _daily(e.filter(F.col("value") > 60)).filter(F.col("d") >= _SM_CUT2),
    ]
    # v0 create and the one-job feed staging overlap (guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        fv = pool.submit(
            t.create,
            _daily(e).select("d", "event_type", "n", "n_users"),
            zone_key="d", n_files=4,
        )
        ff = pool.submit(
            _stage_feed_files,
            spark,
            [b.select("d", "event_type", "n", "n_users") for b in batches],
            ddl,
            [os.path.join(feed, f"batch-{i}.parquet") for i in range(2)],
            True,
        )
        fv.result()
        ff.result()

    stream = (
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(feed)
    )
    q = stream_merge_kv(
        stream, t, ["d", "event_type"], ddl, os.path.join(root, "ckpt"),
        zone_key="d",
    )
    q.awaitTermination()

    txns = t.applied_txns()
    tags = sorted((x["app"], x["batch"]) for x in txns)
    exactly_once = int(tags == [("stream-kv", 0), ("stream-kv", 1)])
    merges = [h for h in t.history() if h["op"] == "merge"]
    pointer_carry = int(
        len(merges) == 2
        and all((h["stats"] or {}).get("pointer_links", 0) > 0 for h in merges)
    )

    # crash-replay shape: SAME feed, FRESH checkpoint — every batch finds
    # its txn tag already committed and no-ops; the chain must not grow
    tip_before = store.latest_committed()
    stream2 = (
        spark.readStream.schema(ddl).option("maxFilesPerTrigger", 1).parquet(feed)
    )
    q2 = stream_merge_kv(
        stream2, t, ["d", "event_type"], ddl, os.path.join(root, "ckpt2"),
        zone_key="d",
    )
    q2.awaitTermination()
    replay_noop = int(store.latest_committed() == tip_before)

    return t.read(spark, ddl).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n").alias("sum_n"),
        F.count("n_users").alias("n_nonnull"),
    ).select(
        F.lit(exactly_once).cast("int").alias("exactly_once"),
        F.lit(pointer_carry).cast("int").alias("pointer_carry"),
        F.lit(replay_noop).cast("int").alias("replay_noop"),
        F.col("n_rows").cast("long"),
        F.col("sum_n").cast("long"),
        F.col("n_nonnull").cast("long"),
    )
