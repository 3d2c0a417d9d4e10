"""The benchmark's workloads. Each is a closed loop with one client: the
harness calls ``cycle()`` for the next list of operations and runs them one
after another, each operation only after the previous one returned. A
listed workload interleaves two of the four parts below, so that every
layer is measured within the run budget.

An operation is ``(kind, fn)``. ``fn()`` does the timed work and returns a
thunk; the harness times ``fn`` alone, then calls the thunk, which checks the
output against the reference and returns ``(ok, work_units)``."""

from __future__ import annotations

import datetime as dt
import glob
import itertools
import json
import os
import subprocess
import sys
import time
import urllib.request

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import harness
import ref

HERE = os.path.dirname(os.path.abspath(__file__))


class Workload:
    name = ""

    def generate(self, root: str, seed: int):
        raise NotImplementedError

    def start(self, ctx) -> None:
        """Session-side set-up: fixtures, staged tables, warm-up."""

    def cycle(self, ctx) -> list:
        raise NotImplementedError

    def trace_wrappers(self, ctx) -> list:
        """Traced run only: (module, attribute, span name) for each layer
        entry point to wrap in a span."""
        return []

    def loop_started(self, ctx) -> None:
        pass

    def loop_finished(self, ctx) -> None:
        pass

    def layers(self, ctx) -> dict:
        """Traced run only, session still up: this workload's per-layer
        metrics."""
        return {}

    def from_event_log(self, ctx, by_phase: dict, records: list) -> dict:
        """Traced run only: per-layer metrics derived from the loop's Spark
        task metrics, which ``by_phase`` holds per ``loop/<workload>``."""
        return {}

    def close(self) -> None:
        pass


def _read_version(version_dir: str) -> pa.Table:
    """A committed table version as pyarrow sees it: every data file minus
    the rows its deletion-vector sidecar (``_deletes``: file name, row
    position) marks deleted."""
    deleted: dict[str, list[int]] = {}
    dv_files = sorted(glob.glob(os.path.join(version_dir, "_deletes", "*.parquet")))
    if dv_files:
        dv = pq.read_table(dv_files, columns=["f", "pos"])
        for f, pos in zip(dv.column("f").to_pylist(), dv.column("pos").to_pylist()):
            deleted.setdefault(f, []).append(pos)
    parts = []
    for path in sorted(glob.glob(os.path.join(version_dir, "*.parquet"))):
        part = pq.read_table(path, columns=["t", "sensor", "value", "qc"])
        drop = deleted.get(os.path.basename(path))
        if drop:
            keep = np.ones(part.num_rows, bool)
            keep[drop] = False
            part = part.filter(pa.array(keep))
        parts.append(part)
    return pa.concat_tables(parts)


def _new_files(version_dir: str) -> list[str]:
    """Parquet files a version wrote itself (carried-over files are hard
    links to the previous version's and have a link count above one)."""
    return [p for p in glob.glob(os.path.join(version_dir, "*.parquet")) if os.stat(p).st_nlink == 1]


# --- qaqc_fleet -----------------------------------------------------------------


class QaqcFleet(Workload):
    """Dashboard refresh: ``run_qaqc_job`` per span on a 400-day, 1-minute,
    3-param long table of one site in the date-partitioned layout."""

    name = "qaqc_fleet"
    DAYS = 400
    SPANS = ("day", "week", "month", "year")
    SHORT_SPANS = ("day", "week")
    THRESHOLD = 3000
    SITE = gen.FLEET_SITE

    def generate(self, root, seed):
        return gen.gen_fleet(root, seed, self.DAYS)

    def _spec(self, span: str):
        from rca_data_tools_spark.pipeline import QAQCJobSpec

        end = (gen.FLEET_START + np.timedelta64(self.DAYS, "D")).astype(dt.datetime)
        return QAQCJobSpec(
            site=self.SITE, span=span, table=self.SITE, key_col="param", ts_col="ts",
            value_col="value", window_end=end.strftime("%Y-%m-%d %H:%M:%S"),
            threshold=self.THRESHOLD, extra_cols=["qc_executed", "qc_results"],
        )

    def start(self, ctx):
        spark = ctx.spark
        self.dim = spark.createDataFrame(
            [(p, *gen.FLEET_DIM[p]) for p in gen.FLEET_PARAMS],
            "param string, fail_lo double, fail_hi double, sus_lo double, sus_hi double",
        )
        self.out_dir = os.path.join(ctx.work, "fleet_out")
        self._expected: dict = {}
        # warm-up: one day job, into a separate output
        from rca_data_tools_spark.pipeline import run_qaqc_job

        run_qaqc_job(spark, ctx.inputs, self._spec("day"), self.dim,
                     out_dir=os.path.join(ctx.work, "warm_out"))

    def cycle(self, ctx):
        return [("job", self._job(ctx, span)) for span in self.SPANS]

    def _job(self, ctx, span):
        from rca_data_tools_spark import pipeline

        spec = self._spec(span)

        def run():
            with ctx.tracer.span("pipeline.run_qaqc_job", span_kind=span):
                pipeline.run_qaqc_job(ctx.spark, ctx.inputs, spec, self.dim, out_dir=self.out_dir)
            return lambda: self._check(ctx, span, spec)

        return run

    def _reference(self, ctx, span, spec):
        if span not in self._expected:
            from rca_data_tools_spark.pipeline import span_window

            lo, hi = (np.datetime64(s.replace(" ", "T"), "us") for s in span_window(spec))
            data = ctx.refs
            sel = np.flatnonzero((data["ts"] >= lo) & (data["ts"] < hi))
            series = {}
            for p in gen.FLEET_PARAMS:
                rows = sel[ref.stride_rows(len(sel), self.THRESHOLD)]
                ts = data["ts"][rows]
                y = np.where(data["valid"][p][rows], data["values"][p][rows], np.nan)
                x_ns = (ts.astype(np.int64) * 1000).astype(np.float64)  # the kernel sees ns
                kept = rows[ref.lttb(x_ns, y, self.THRESHOLD)]
                series[p] = {
                    "ts": data["ts"][kept].astype(np.int64),
                    "flag": ref.gross_range(data["values"][p][kept], data["valid"][p][kept], gen.FLEET_DIM[p]),
                }
            self._expected[span] = (series, len(sel) * len(gen.FLEET_PARAMS), lo, hi)
        return self._expected[span]

    def _check(self, ctx, span, spec):
        series, window_rows, lo, hi = self._reference(ctx, span, spec)
        part = os.path.join(self.out_dir, f"site={self.SITE}", f"span={span}")
        got = pq.read_table(part)
        got = got.sort_by([("param", "ascending"), ("ts", "ascending")])
        params = np.asarray(got.column("param").to_pylist())
        ts = got.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
        flag = got.column("gross_range_flag").to_numpy()
        rollup = got.column("rollup_flag").to_numpy()
        if ctx.trace:
            files = glob.glob(os.path.join(part, "*.parquet"))
            ctx.counts.setdefault("sink.files_written", []).append(len(files))
            ctx.counts.setdefault("sink.bytes_written", []).append(sum(os.path.getsize(f) for f in files))
        ok = bool(len(ts)) and ts.min() >= lo.astype(np.int64) and ts.max() < hi.astype(np.int64)
        ok = ok and bool(np.all(rollup == np.maximum(flag, 1)))
        for p in gen.FLEET_PARAMS:
            m = params == p
            ok = ok and np.array_equal(ts[m], series[p]["ts"]) and np.array_equal(flag[m], series[p]["flag"])
        return ok, window_rows

    def layers(self, ctx):
        """Planning comes from the spans the harness records around
        ``pipeline``'s references to each layer. Execution of the flagging,
        decimation and sink layers is timed on a staged, materialized year
        window, because inside a job Spark runs all three in the sink's
        write action."""
        from pyspark.sql import functions as F

        from rca_data_tools_spark.operators.decimate import lttb
        from rca_data_tools_spark.operators.flagging import gross_range_flags
        from rca_data_tools_spark.pipeline import span_window
        from rca_data_tools_spark.sources.readers import load_table
        from rca_data_tools_spark.sources.sinks import write_partitioned

        t = ctx.tracer
        children: dict[int, dict[str, float]] = {}
        for s in t.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], {})[s["name"]] = s["end"] - s["start"]
        plan, load_short = [], []
        for s in t.spans:
            if s["name"] != "pipeline.run_qaqc_job":
                continue
            c = children[s["id"]]
            # the job's driver time outside the reader's planning and the
            # sink's write action: planning of the operator chain
            plan.append(s["end"] - s["start"] - c["readers.load_table"] - c["sink.write_partitioned"])
            if s["span_kind"] in self.SHORT_SPANS:
                load_short.append(c["readers.load_table"])
        listed = []
        for span in self.SHORT_SPANS:
            lo, hi = span_window(self._spec(span))
            df = load_table(ctx.spark, ctx.inputs, self.SITE, time_filters={"ts": (lo, hi)},
                            partition_time_col="ts")
            listed.append(len(df.inputFiles()))
        out = {
            "readers.plan_s": float(np.median(load_short)),
            "readers.files_listed": float(np.median(listed)),
            "pipeline.plan_s": float(np.median(plan)),
            "sink.files_written": float(np.median(ctx.counts["sink.files_written"])),
            "sink.bytes_written": float(np.median(ctx.counts["sink.bytes_written"])),
        }
        lo, hi = span_window(self._spec("year"))
        facts = load_table(ctx.spark, ctx.inputs, self.SITE, time_filters={"ts": (lo, hi)},
                           partition_time_col="ts").select("param", "ts", "value").cache()
        rows = facts.count()
        t0 = time.perf_counter()
        flagged = gross_range_flags(facts, self.dim, value_col="value", join_keys=["param"])
        flagged.write.format("noop").mode("overwrite").save()
        out["flagging.s"] = time.perf_counter() - t0
        out["flagging.rows"] = float(rows)
        staged = flagged.cache()
        staged.count()
        t0 = time.perf_counter()
        dec = lttb(staged, key_cols=["param"], ts_col="ts", value_col="value", threshold=self.THRESHOLD)
        n_out = dec.agg(F.count(F.lit(1))).collect()[0][0]
        out["decimate.s"] = time.perf_counter() - t0
        out["decimate.rows_in"] = float(rows)
        out["decimate.rows_out"] = float(n_out)
        written = dec.withColumn("site", F.lit(self.SITE)).withColumn("span", F.lit("year")).cache()
        written.count()
        writes = []
        for _ in range(3):
            t0 = time.perf_counter()
            write_partitioned(written, os.path.join(ctx.work, "staged_out"), ["site", "span"])
            writes.append(time.perf_counter() - t0)
        out["sink.write_s"] = float(np.median(writes))
        for df in (written, staged, facts):
            df.unpersist()
        return out

    def from_event_log(self, ctx, by_phase, records):
        scanned = harness.phase_total(by_phase, f"loop/{self.name}")["input_records"]
        return {"readers.rows_scanned_per_window_row": scanned / sum(r[3] for r in records if r[0] == "job")}

    def trace_wrappers(self, ctx):
        from rca_data_tools_spark import pipeline

        return [
            (pipeline, "load_table", "readers.load_table"),
            (pipeline, "gross_range_flags", "flagging.plan"),
            (pipeline, "lttb", "decimate.plan"),
            (pipeline, "write_partitioned", "sink.write_partitioned"),
        ]


# --- ingest_zarr_http ---------------------------------------------------------------


class ZarrHttp(Workload):
    """``zarr_table`` time slices of consolidated Zarr v2 stores served by a
    localhost HTTP object-store fixture in its own process."""

    name = "ingest_zarr_http"
    INSTRUMENTS = 3
    ROWS = 48_000
    CHUNK = 4_000
    WIDTH = 16
    # slice widths in rows: within a chunk or two, three chunks, a third,
    # the whole store
    WIDTHS = (3_000, 10_000, 16_000, None)

    def generate(self, root, seed):
        return gen.gen_zarr(root, seed, self.INSTRUMENTS, self.ROWS, self.CHUNK, self.WIDTH)

    @property
    def variables(self):
        return ["time", *gen.ZARR_1D, gen.ZARR_2D]

    def start(self, ctx):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "objstore.py"), ctx.inputs, "--threads", str(ctx.cpus)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline().split()
        if len(line) != 2 or line[0] != "PORT":
            raise RuntimeError("object-store fixture did not start")
        self.base = f"http://127.0.0.1:{line[1]}"
        rng = np.random.default_rng([ctx.seed, 99])
        self.slices = {}  # instrument -> [(t_lo, t_hi) per width]
        for name, arrays in ctx.refs.items():
            time_ = arrays["time"]
            for w in self.WIDTHS:
                lo_row = 0 if w is None else int(rng.integers(0, len(time_) - w))
                hi_row = len(time_) if w is None else lo_row + w
                self.slices.setdefault(name, []).append((int(time_[lo_row]), int(time_[hi_row - 1]) + 1))
        self.n_cycles = 0

    def cycle(self, ctx):
        """The slices of one instrument, instruments in turn."""
        names = sorted(self.slices)
        name = names[self.n_cycles % len(names)]
        self.n_cycles += 1
        return [("slice", self._slice(ctx, name, lo, hi)) for lo, hi in self.slices[name]]

    def _slice(self, ctx, name, t_lo, t_hi):
        from pyspark.sql import functions as F

        from rca_data_tools_spark.sources import zarr

        def run():
            with ctx.tracer.span("zarr.zarr_table"):
                df = zarr.zarr_table(ctx.spark, f"{self.base}/{name}", self.variables,
                                     time_var="time", time_range=(t_lo, t_hi))
            row = df.agg(
                F.count(F.lit(1)), F.min("time"), F.max("time"),
                *[F.sum(v) for v in gen.ZARR_1D],
                F.sum(F.aggregate(gen.ZARR_2D, F.lit(0.0), lambda a, x: a + x)),
            ).collect()[0]
            return lambda: self._check(ctx, name, t_lo, t_hi, row)

        return run

    def _check(self, ctx, name, t_lo, t_hi, row):
        arrays = ctx.refs[name]
        lo, hi = np.searchsorted(arrays["time"], [t_lo, t_hi], side="left")
        n = int(hi - lo)
        expect = [arrays[v][lo:hi].sum() for v in gen.ZARR_1D]
        expect.append(arrays[gen.ZARR_2D][lo:hi].astype(np.float64).sum())
        ok = row[0] == n and row[1] == arrays["time"][lo] and row[2] == arrays["time"][hi - 1]
        ok = ok and all(abs(g - e) <= 1e-9 * max(1.0, abs(e)) for g, e in zip(row[3:], expect))
        if ctx.trace:
            chunks = -(-int(hi) // self.CHUNK) - int(lo) // self.CHUNK
            ctx.counts.setdefault("zarr.chunks_in_slice", []).append(chunks * len(self.variables))
        row_bytes = 8 + 8 * len(gen.ZARR_1D) + 4 * self.WIDTH
        return bool(ok), n * row_bytes

    def loop_started(self, ctx):
        self._stats0 = self.stats()

    def loop_finished(self, ctx):
        s1 = self.stats()
        ctx.counts["zarr.fixture"] = {k: s1[k] - self._stats0[k] for k in s1}

    def stats(self):
        with urllib.request.urlopen(f"{self.base}/__stats") as r:
            return json.loads(r.read())

    def layers(self, ctx):
        s = ctx.counts["zarr.fixture"]
        chunks = sum(ctx.counts["zarr.chunks_in_slice"])
        plans = ctx.tracer.durations("zarr.zarr_table")
        return {
            "zarr.plan_s": float(np.median(plans)),
            "zarr.http_requests": s["requests"] / len(plans),
            "zarr.bytes_fetched": s["bytes"] / len(plans),
            "zarr.chunks_fetched_per_chunk_in_slice": s["chunk_requests"] / chunks,
        }

    def close(self):
        proc, self.proc = getattr(self, "proc", None), None
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            proc.stdin.close()
            proc.stdout.close()


# --- table_upsert_read -----------------------------------------------------------------


class TableUpsertRead(Workload):
    """A versioned table from ``create_table`` (zone key ``t``): each step
    merges newly arrived samples plus late corrections, then range-reads a
    recent and an old window."""

    name = "table_upsert_read"
    SENSORS = 8
    BASE_MINUTES = 7 * 1440
    ARRIVALS = 60
    CORRECTIONS = 40
    KEYS = ["t", "sensor"]

    def generate(self, root, seed):
        return gen.gen_upsert(root, seed, self.SENSORS, self.BASE_MINUTES)

    def start(self, ctx):
        from rca_data_tools_spark.sources import sinks

        self.t0 = ctx.refs["t0"]
        self.root = os.path.join(ctx.work, "table")
        base = ctx.spark.read.schema(gen.UPSERT_SCHEMA).parquet(os.path.join(ctx.inputs, "base.parquet"))
        sinks.create_table(base, self.root, zone_key="t", n_files=8)
        # driver-side model of the table, indexed by minute * SENSORS + sensor
        self.value = np.full(0, np.nan)
        self.qc = np.zeros(0, np.int64)
        self.present = np.zeros(0, bool)
        self._apply(ctx.refs["base"])
        self.next_batch = 0
        self.rng = np.random.default_rng([ctx.seed, 7])

    def _apply(self, rows):
        k = (rows["t"] - self.t0) // 60 * self.SENSORS + rows["sensor"]
        grow = int(k.max()) + 1 - len(self.value)
        if grow > 0:
            self.value = np.concatenate([self.value, np.full(grow, np.nan)])
            self.qc = np.concatenate([self.qc, np.zeros(grow, np.int64)])
            self.present = np.concatenate([self.present, np.zeros(grow, bool)])
        self.value[k] = rows["value"]
        self.qc[k] = rows["qc"]
        self.present[k] = True

    def cycle(self, ctx):
        """One step: merge the next batch, then read a recent and an old
        window."""
        b = self.next_batch
        self.next_batch += 1
        path = os.path.join(ctx.inputs, f"batch-{b:05d}.parquet")
        batch = gen.upsert_batch(path, ctx.seed, b, self.SENSORS, self.BASE_MINUTES, self.ARRIVALS,
                                 self.CORRECTIONS)
        # the batch's arrivals end at this minute once it is merged
        end = self.BASE_MINUTES + (b + 1) * self.ARRIVALS
        recent_hi = self.t0 + end * 60 - 1
        old_lo = self.t0 + int(self.rng.integers(0, self.BASE_MINUTES - 360)) * 60
        return [
            ("merge", self._merge(ctx, batch, path)),
            ("read", self._read(ctx, recent_hi - 3 * 3600 + 1, recent_hi)),
            ("read", self._read(ctx, old_lo, old_lo + 6 * 3600 - 1)),
        ]

    def _merge(self, ctx, batch, path):
        from rca_data_tools_spark.sources import sinks

        def run():
            src = ctx.spark.read.schema(gen.UPSERT_SCHEMA).parquet(path)
            with ctx.tracer.span("sink.merge_into_table"):
                stats = sinks.merge_into_table(ctx.spark, self.root, src, self.KEYS, gen.UPSERT_SCHEMA,
                                               zone_key="t")
            return lambda: self._check_merge(ctx, batch, path, stats)

        return run

    def _check_merge(self, ctx, batch, path, stats):
        from rca_data_tools_spark.sources import sinks

        self._apply(batch)
        vdir = os.path.join(self.root, f"v{sinks.latest_committed(self.root)}")
        tab = _read_version(vdir).sort_by([("t", "ascending"), ("sensor", "ascending")])
        keys = (tab.column("t").to_numpy() - self.t0) // 60 * self.SENSORS + tab.column("sensor").to_numpy()
        expect = np.flatnonzero(self.present)
        ok = np.array_equal(keys, expect)
        ok = ok and np.array_equal(tab.column("value").to_numpy(), self.value[expect])
        ok = ok and np.array_equal(tab.column("qc").to_numpy(), self.qc[expect])
        if ctx.trace:
            new = _new_files(vdir)
            for k in ("files_candidates", "files_rewritten", "attempts"):
                ctx.counts.setdefault(f"merge.{k}", []).append(stats[k])
            ctx.counts.setdefault("merge.bytes_written", []).append(sum(os.path.getsize(f) for f in new))
            ctx.counts.setdefault("merge.bytes_in", []).append(os.path.getsize(path))
        return bool(ok), len(batch["t"])

    def _read(self, ctx, lo, hi):
        from pyspark.sql import functions as F

        from rca_data_tools_spark.sources import sinks

        def run():
            vdir = os.path.join(self.root, f"v{sinks.latest_committed(self.root)}")
            with ctx.tracer.span("sink.range_scan"):
                df, stats = sinks.range_scan(ctx.spark, vdir, "t", lo, hi, gen.UPSERT_SCHEMA)
            row = df.agg(F.count(F.lit(1)), F.sum("value"), F.sum("qc")).collect()[0]
            return lambda: self._check_read(ctx, lo, hi, row, stats)

        return run

    def _check_read(self, ctx, lo, hi, row, stats):
        k_lo = max(0, (lo - self.t0 + 59) // 60) * self.SENSORS
        k_hi = ((hi - self.t0) // 60 + 1) * self.SENSORS
        m = self.present[k_lo:k_hi]
        n = int(m.sum())
        ok = row[0] == n and row[2] == int(self.qc[k_lo:k_hi][m].sum())
        e = float(self.value[k_lo:k_hi][m].sum())
        ok = ok and abs(row[1] - e) <= 1e-9 * max(1.0, abs(e))
        if ctx.trace:
            ctx.counts.setdefault("range_scan.files_scanned", []).append(stats["files_scanned"])
        return bool(ok), n

    def layers(self, ctx):
        c = ctx.counts
        return {
            "merge.files_candidates": float(np.mean(c["merge.files_candidates"])),
            "merge.files_rewritten": float(np.mean(c["merge.files_rewritten"])),
            "merge.attempts": float(np.mean(c["merge.attempts"])),
            "merge.bytes_written_per_input_byte": sum(c["merge.bytes_written"]) / sum(c["merge.bytes_in"]),
            "range_scan.files_scanned_per_read": float(np.mean(c["range_scan.files_scanned"])),
        }


# --- corpus_neardup ----------------------------------------------------------------------


class CorpusNeardup(Workload):
    """MinHash near-duplicate pairs over a corpus with planted clusters, and
    batched exact cosine top-k over its embeddings."""

    name = "corpus_neardup"
    DOCS = 1500
    WORDS = 200
    CLUSTERS = 60
    DIM = 32
    QUERIES = 64
    K = 10
    THRESHOLD = 0.7

    def generate(self, root, seed):
        return gen.gen_corpus(root, seed, self.DOCS, self.WORDS, self.CLUSTERS, self.DIM, self.QUERIES)

    def start(self, ctx):
        r = ctx.refs
        self.shingles = [ref.shingles(t) for t in r["texts"]]
        self.planted = {
            (a, b) for members in r["planted"] for a in members for b in members if a < b
        }
        self.topk = ref.cosine_topk(r["emb"], r["q_vec"], self.K)
        # warm-up: one dedup. A cold top-k is still the cycle's shortest
        # operation, so it moves neither the median nor the tail.
        self._dedup(ctx)()

    def cycle(self, ctx):
        return [("dedup", self._dedup(ctx)), ("ann", self._ann(ctx)), ("ann", self._ann(ctx))]

    def _dedup(self, ctx):
        from rca_data_tools_spark.operators import dedup

        def run():
            docs = ctx.spark.read.parquet(os.path.join(ctx.inputs, "documents.parquet"))
            with ctx.tracer.span("dedup.minhash_dedup_pairs"):
                rows = dedup.minhash_dedup_pairs(docs, "doc_id", "text", threshold=self.THRESHOLD).collect()
            ctx.spark.catalog.clearCache()
            ctx.counts.setdefault("dedup.pairs", []).append(len(rows))
            return lambda: self._check_dedup(rows)

        return run

    def _check_dedup(self, rows):
        got = {(r["id1"], r["id2"]): r["jaccard"] for r in rows}
        ok = self.planted <= set(got)
        for (a, b), j in got.items():
            exact = round(ref.jaccard(self.shingles[a], self.shingles[b]), 6)
            ok = ok and exact >= self.THRESHOLD and abs(exact - j) <= 1e-6
        return bool(ok), len(self.shingles)

    def _ann(self, ctx):
        from rca_data_tools_spark.operators import similarity

        def run():
            corpus = ctx.spark.read.parquet(os.path.join(ctx.inputs, "embeddings.parquet"))
            queries = ctx.spark.read.parquet(os.path.join(ctx.inputs, "queries.parquet"))
            with ctx.tracer.span("similarity.brute_force_topk"):
                rows = similarity.brute_force_topk(corpus, queries, "vec_id", "embedding", k=self.K).collect()
            return lambda: self._check_ann(ctx, rows)

        return run

    def _check_ann(self, ctx, rows):
        ids, sims = self.topk
        q_index = {q: i for i, q in enumerate(ctx.refs["q_ids"])}
        per_q: dict[int, list] = {}
        for r in rows:
            per_q.setdefault(q_index[r["q_id"]], []).append((r["vec_id"], r["cos_sim"]))
        ok = len(per_q) == len(q_index)
        emb, q_vec = ctx.refs["emb"], ctx.refs["q_vec"]
        for qi, got in per_q.items():
            ok = ok and len(got) == self.K
            for vid, s in got:
                exact = float(emb[vid] @ q_vec[qi] / np.linalg.norm(emb[vid]) / np.linalg.norm(q_vec[qi]))
                ok = ok and abs(s - exact) <= 2e-6 and s >= sims[qi, -1] - 2e-6
        return bool(ok), len(q_index)

    def layers(self, ctx):
        from pyspark.sql import functions as F

        from rca_data_tools_spark.operators import dedup

        docs = ctx.spark.read.parquet(os.path.join(ctx.inputs, "documents.parquet"))
        hashed = dedup.shingle_hashes(dedup.shingle_arrays(docs, "doc_id", "text"), "doc_id").cache()
        sig = dedup.minhash_signatures(hashed, "doc_id").cache()
        sig.count()
        cands = dedup.lsh_candidate_pairs(sig, "doc_id").agg(F.count(F.lit(1))).collect()[0][0]
        ctx.spark.catalog.clearCache()
        dedup_s = ctx.tracer.durations("dedup.minhash_dedup_pairs")
        n_corpus = len(ctx.refs["texts"])
        return {
            "dedup.s": float(np.median(dedup_s)),
            "dedup.candidate_pairs": float(cands),
            "dedup.verified_per_candidate": ctx.counts["dedup.pairs"][-1] / max(1, cands),
            "similarity.s": float(np.median(ctx.tracer.durations("similarity.brute_force_topk"))),
            "similarity.pairs_scored": float(n_corpus * len(ctx.refs["q_ids"])),
        }


# --- the benchmark's workloads: two parts' operations interleaved -----------------


class Mix(Workload):
    """Two parts' cycles interleaved op by op in one closed loop. Each part
    keeps its own inputs, reference and layers; the loop's Spark jobs are
    tagged ``loop/<part>`` in a traced run."""

    PARTS: tuple = ()
    #: interleaved cycles run, checked, before the loop
    WARM_CYCLES = 0

    def __init__(self):
        self.parts = [cls() for cls in self.PARTS]

    def generate(self, root, seed):
        return {p.name: p.generate(os.path.join(root, p.name), seed) for p in self.parts}

    def start(self, ctx):
        self.ctx = {p.name: ctx.part(p.name) for p in self.parts}
        self.start_s = {}
        for p in self.parts:
            t0 = time.perf_counter()
            p.start(self.ctx[p.name])
            self.start_s[p.name] = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(self.WARM_CYCLES):
            for kind, op in self._interleave(ctx, tag=False):
                ok, _work = op()()
                if not ok:
                    raise RuntimeError(f"{self.name} warm-up {kind} failed its check")
        self.start_s["warm_cycles"] = time.perf_counter() - t0

    def cycle(self, ctx):
        return self._interleave(ctx, tag=ctx.trace)

    def _interleave(self, ctx, tag: bool):
        cycles = [[(kind, self._tagged(ctx, p.name, fn) if tag else fn)
                   for kind, fn in p.cycle(self.ctx[p.name])] for p in self.parts]
        return [op for ops in itertools.zip_longest(*cycles) for op in ops if op is not None]

    @staticmethod
    def _tagged(ctx, part, fn):
        sc = ctx.spark.sparkContext

        def run():
            sc.setLocalProperty(harness.PHASE_PROPERTY, f"loop/{part}")
            return fn()

        return run

    def trace_wrappers(self, ctx):
        return [w for p in self.parts for w in p.trace_wrappers(self.ctx[p.name])]

    def loop_started(self, ctx):
        for p in self.parts:
            p.loop_started(self.ctx[p.name])

    def loop_finished(self, ctx):
        for p in self.parts:
            p.loop_finished(self.ctx[p.name])

    def layers(self, ctx):
        return {k: v for p in self.parts for k, v in p.layers(self.ctx[p.name]).items()}

    def from_event_log(self, ctx, by_phase, records):
        return {k: v for p in self.parts
                for k, v in p.from_event_log(self.ctx[p.name], by_phase, records).items()}

    def close(self):
        for p in self.parts:
            p.close()


class Analytics(Mix):
    """The operator-heavy traffic: dashboard-refresh QA/QC jobs beside
    near-duplicate detection and similarity search over a corpus."""

    name = "qaqc_fleet_neardup"
    PARTS = (QaqcFleet, CorpusNeardup)
    # a cold cycle costs about 35 s, so instead of whole warm-up cycles the
    # parts warm up with one day job and one dedup
    WARM_CYCLES = 0


class Storage(Mix):
    """The source and sink traffic: versioned-table merges and range reads
    beside Zarr-over-HTTP slices. No operator runs."""

    name = "upsert_read_zarr_http"
    PARTS = (TableUpsertRead, ZarrHttp)
    # while the JVM compiles the hot paths, merge, slice and read latencies
    # fall steeply over the first cycles after the session starts, then
    # slowly: in a 60 s loop after two warm-up cycles, JIT compilation took
    # 3.5 s per cycle at first and 1-1.5 s from the tenth cycle on
    WARM_CYCLES = 6


#: work unit of each operation kind, for the per-kind throughput in the
#: detail line
WORK_UNITS = {
    "job": "window rows",
    "dedup": "documents",
    "ann": "queries",
    "merge": "rows merged",
    "read": "rows read",
    "slice": "decoded bytes",
}

WORKLOADS = {w.name: w for w in (Analytics, Storage)}
