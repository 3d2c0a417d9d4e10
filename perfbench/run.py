"""Engine benchmark: one workload per invocation, closed loop, one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run generates its inputs from the
seed, starts one Spark session on ``local[<cpus>]``, warms up, then runs
whole cycles of the workload's operations until ``--seconds`` have passed,
checking every output against a numpy reference. The last line of stdout
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it (``{"detail": ...}``) carries sample
counts, percentile levels, the CPU count and driver heap. A failed check
makes the exit code 1; a checkout without the program makes it 2.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import harness  # noqa: E402


END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "readers.plan_s": "s",
    "readers.files_listed": "count",
    "readers.rows_scanned_per_window_row": "ratio",
    "flagging.s": "s",
    "flagging.rows": "count",
    "decimate.s": "s",
    "decimate.rows_in": "count",
    "decimate.rows_out": "count",
    "pipeline.plan_s": "s",
    "sink.write_s": "s",
    "sink.files_written": "count",
    "sink.bytes_written": "B",
    "zarr.plan_s": "s",
    "zarr.http_requests": "count/op",
    "zarr.bytes_fetched": "B/op",
    "zarr.chunks_fetched_per_chunk_in_slice": "ratio",
    "merge.files_candidates": "count",
    "merge.files_rewritten": "count",
    "merge.attempts": "count",
    "merge.bytes_written_per_input_byte": "ratio",
    "range_scan.files_scanned_per_read": "count",
    "dedup.s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.verified_per_candidate": "ratio",
    "similarity.s": "s",
    "similarity.pairs_scored": "count",
    "spark.tasks": "count/op",
    "spark.executor_run_s": "s/op",
    "spark.gc_s": "s/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.input_bytes": "B/op",
    "spark.python_bytes_sent": "B/op",
    "trace.op_p50_s": "s",
    "trace.bookkeeping_s": "s/op",
}


def machine() -> tuple[int, int]:
    """(usable CPUs, driver heap in MB): an eighth of physical memory,
    capped at 2 GB, so the JVM fits beside everything else on the host."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return cpus, min(2048, total_kb // 1024 // 8)


def pin_environment(work: str, cpus: int, heap_mb: int, event_dir: "str | None") -> None:
    """Session settings the program reads from the environment, plus
    scratch locations inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    # Python workers import the program by name
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir is not None:
        os.makedirs(event_dir)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{event_dir}"
        # one uncompressed JSON-lines file
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(f"{k}={v}" for k, v in conf.items())


def stop_session(spark) -> None:
    """Stop Spark, then end the driver JVM (it exits when its stdin
    closes) and wait for it."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def jvm_gc_jit_s(spark) -> tuple[float, float]:
    """Time the driver JVM has spent so far in garbage collection and in
    JIT compilation."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return gc_ms / 1000.0, mf.getCompilationMXBean().getTotalCompilationTime() / 1000.0


class Context:
    """What a workload's operations see: the session, tracer, work
    directory, generated inputs and their reference arrays, and the counts
    a traced run collects."""

    def __init__(self, counts=None, **kw):
        self.__dict__.update(kw)
        self.counts: dict[str, list] = {} if counts is None else counts

    def part(self, name: str) -> "Context":
        """The view of one part of a mixed workload: its own inputs and
        references; everything else shared."""
        return Context(**{**self.__dict__, "inputs": os.path.join(self.inputs, name),
                          "refs": self.refs[name]})


def run_loop(ctx, wl, seconds: float, after_cycle) -> list[tuple[str, float, bool, float]]:
    """Whole cycles until ``seconds`` have passed, calling ``after_cycle()``
    after each; one record per op: (kind, latency s, ok, work units)."""
    records = []
    t_start = time.perf_counter()
    while time.perf_counter() - t_start < seconds:
        for kind, fn in wl.cycle(ctx):
            t0 = time.perf_counter()
            try:
                check = fn()
                dt = time.perf_counter() - t0
                ok, work = check()
            except Exception:  # an op that raises counts as failed; keep going
                dt, ok, work = time.perf_counter() - t0, False, 0
                traceback.print_exc()
            if not ok:
                print(f"perfbench: {wl.name} {kind} op #{len(records)} failed its check", file=sys.stderr)
            records.append((kind, dt, bool(ok), work))
        after_cycle()
    return records


def per_kind(samples: list[tuple[float, float]], unit: str) -> dict:
    """Latency median, the highest supported percentile, and throughput of
    one operation kind from its (latency s, work units) samples."""
    lat = [s[0] for s in samples]
    out = {"n": len(lat), "p50_s": harness.percentile(lat, 50)}
    q = harness.highest_supported_level(len(lat))
    if q is not None:
        out[f"p{q}_s"] = harness.percentile(lat, q)
    out["work_per_s"] = sum(s[1] for s in samples) / sum(lat)
    out["work_unit"] = unit
    return out


def main(argv=None) -> int:
    from workloads import WORK_UNITS, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and fixture and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "rca_data_tools_spark")):
        print(f"perfbench: no rca_data_tools_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload]()
    cpus, heap_mb = machine()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        event_dir = os.path.join(work, "events") if args.trace else None
        pin_environment(work, cpus, heap_mb, event_dir)
        sys.path.insert(0, ROOT)

        # set-up: generation, session start, workload start (fixtures,
        # staging, warm-up). The unit tests prove that a seed gives
        # byte-identical inputs; the hash goes to the detail line.
        inputs = os.path.join(work, "inputs")
        t0 = time.perf_counter()
        refs = wl.generate(inputs, args.seed)
        gen_s = time.perf_counter() - t0
        inputs_sha256 = gen.tree_sha256(inputs)

        t0 = time.perf_counter()
        from rca_data_tools_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        tracer = harness.Tracer(enabled=False)
        ctx = Context(spark=spark, tracer=tracer, work=work, inputs=inputs, refs=refs,
                      seed=args.seed, cpus=cpus, trace=bool(args.trace))
        spark.sparkContext.setLocalProperty(harness.PHASE_PROPERTY, "setup")
        t0 = time.perf_counter()
        wl.start(ctx)
        start_s = time.perf_counter() - t0
        setup_s = gen_s + session_s + start_s

        # start the loop from a collected heap on both sides of the gateway
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        restore = []
        if args.trace:
            restore = [tracer.wrap(*w) for w in wl.trace_wrappers(ctx)]
        spark.sparkContext.setLocalProperty(harness.PHASE_PROPERTY, "loop")
        tracer.enabled = bool(args.trace)
        ctx.counts.clear()
        wl.loop_started(ctx)
        # VmHWM after each cycle. peak_rss_mb is the reading after the
        # first cycle, the same work in every run: the JVM's heap keeps
        # growing with the cycles run, and a faster program runs more
        jvm = spark.sparkContext._gateway.proc.pid
        rss_by_cycle = []
        cpu0, gc_jit0 = (harness.cpu_s(), harness.cpu_s(jvm)), jvm_gc_jit_s(spark)
        t_loop = time.perf_counter()
        records = run_loop(ctx, wl, args.seconds,
                           lambda: rss_by_cycle.append((harness.vm_hwm_mb(), harness.vm_hwm_mb(jvm))))
        loop_s = time.perf_counter() - t_loop
        # CPU time of the loop, and how much of the JVM's went to garbage
        # collection and JIT compilation
        gc_jit1 = jvm_gc_jit_s(spark)
        loop_cpu = {"driver": harness.cpu_s() - cpu0[0], "jvm": harness.cpu_s(jvm) - cpu0[1],
                    "jvm_gc": gc_jit1[0] - gc_jit0[0], "jvm_jit": gc_jit1[1] - gc_jit0[1]}
        wl.loop_finished(ctx)
        for r in restore:
            r()

        lat = [r[1] for r in records]
        attempted = len(records)
        failed = sum(not r[2] for r in records)
        by_kind = {}
        for kind, dt, _ok, units in records:
            by_kind.setdefault(kind, []).append((dt, units))
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": cpus,
            "driver_heap_mb": heap_mb,
            "inputs_sha256": inputs_sha256,
            "ops": attempted,
            "loop_s": loop_s,
            "loop_cpu_s": loop_cpu,
            "highest_supported_level": harness.highest_supported_level(attempted),
            "setup_parts_s": {"generate": gen_s, "session": session_s,
                              "start": start_s, **{f"start.{k}": v for k, v in wl.start_s.items()}},
            "latencies_s": [[r[0], round(r[1], 4)] for r in records],
            "per_kind": {k: per_kind(v, WORK_UNITS[k]) for k, v in by_kind.items()},
        }
        if args.trace:
            metrics = dict.fromkeys(PER_LAYER, 0.0)
            metrics["session.start_s"] = session_s
            spark.sparkContext.setLocalProperty(harness.PHASE_PROPERTY, "staged")
            metrics.update(wl.layers(ctx))
            metrics["trace.op_p50_s"] = harness.percentile(lat, 50)
            metrics["trace.bookkeeping_s"] = tracer.bookkeeping_s / attempted
        else:
            detail["peak_rss_mb_by_cycle"] = [[round(d, 1), round(j, 1)] for d, j in rss_by_cycle]
            metrics = {
                "setup_s": setup_s,
                "peak_rss_mb": sum(rss_by_cycle[0]),
                "op_p50_s": harness.percentile(lat, 50),
                "ops_per_s": attempted / sum(lat),
            }
        stop_session(spark)
        spark = None
        if args.trace:
            by_phase = harness.parse_event_log(harness.find_event_log(event_dir))
            ev = harness.phase_total(by_phase, "loop")
            for k in ("tasks", "executor_run_s", "gc_s", "shuffle_write_bytes", "input_bytes",
                      "python_bytes_sent"):
                metrics[f"spark.{k}"] = ev[k] / attempted
            metrics.update(wl.from_event_log(ctx, by_phase, records))
            out = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json")
            tracer.write(out, {"detail": detail, "spark_by_phase": by_phase})
            detail["span_file"] = os.path.relpath(out, ROOT)
        units = PER_LAYER if args.trace else END_TO_END
        print(json.dumps({"detail": detail}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }))
        return 0 if failed == 0 else 1
    finally:
        wl.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass


if __name__ == "__main__":
    sys.exit(main())
