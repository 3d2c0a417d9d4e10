"""Unit tests for the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import urllib.request

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import harness  # noqa: E402
import ref  # noqa: E402


# --- percentile / sample-count rule ---------------------------------------------


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(3)
    xs = list(rng.random(37))
    for q in (0, 10, 50, 75, 90, 99, 100):
        assert harness.percentile(xs, q) == pytest.approx(np.percentile(xs, q), abs=1e-12)


def test_highest_supported_level_needs_ten_beyond():
    assert harness.highest_supported_level(19) is None
    assert harness.highest_supported_level(20) == 50
    assert harness.highest_supported_level(39) == 50
    assert harness.highest_supported_level(40) == 75
    assert harness.highest_supported_level(100) == 90
    assert harness.highest_supported_level(199) == 90
    assert harness.highest_supported_level(200) == 95
    assert harness.highest_supported_level(1000) == 99


# --- process accounting ---------------------------------------------------------------


def test_cpu_s_counts_this_process():
    t0 = harness.cpu_s()
    while harness.cpu_s() - t0 < 0.05:
        sum(i * i for i in range(10_000))
    assert harness.cpu_s() > t0


# --- generator determinism ----------------------------------------------------------

GENERATORS = {
    "fleet": lambda root, seed: gen.gen_fleet(root, seed, days=3),
    "zarr": lambda root, seed: gen.gen_zarr(root, seed, instruments=1, rows=1000, chunk=300, width=4),
    "upsert": lambda root, seed: [
        gen.gen_upsert(root, seed, sensors=2, base_minutes=60),
        *(gen.upsert_batch(os.path.join(root, f"batch-{b}.parquet"), seed, b, sensors=2,
                           base_minutes=60, arrivals_minutes=5, corrections=3) for b in range(2)),
    ],
    "corpus": lambda root, seed: gen.gen_corpus(root, seed, docs=20, words=30, clusters=3, dim=4,
                                                queries=2),
}


@pytest.mark.parametrize("name", sorted(GENERATORS))
def test_generator_is_byte_identical_per_seed(tmp_path, name):
    make = GENERATORS[name]
    make(str(tmp_path / "a"), 5)
    make(str(tmp_path / "b"), 5)
    make(str(tmp_path / "c"), 6)
    a, b, c = (gen.tree_sha256(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert a != c


def test_tree_sha256_sees_paths_and_bytes(tmp_path):
    (tmp_path / "x").mkdir()
    (tmp_path / "x" / "f").write_bytes(b"1")
    h1 = gen.tree_sha256(str(tmp_path / "x"))
    (tmp_path / "x" / "f").write_bytes(b"2")
    h2 = gen.tree_sha256(str(tmp_path / "x"))
    (tmp_path / "x" / "f").rename(tmp_path / "x" / "g")
    h3 = gen.tree_sha256(str(tmp_path / "x"))
    assert len({h1, h2, h3}) == 3


def test_planted_pairs_are_near_duplicates(tmp_path):
    out = gen.gen_corpus(str(tmp_path / "c"), 1, docs=50, words=200, clusters=5, dim=4, queries=2)
    sh = [ref.shingles(t) for t in out["texts"]]
    for members in out["planted"]:
        for a in members:
            for b in members:
                if a < b:
                    assert ref.jaccard(sh[a], sh[b]) > 0.95
    assert ref.jaccard(sh[0], sh[1]) < 0.2


# --- event-log parsing -----------------------------------------------------------------


def _event_log(path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"perfbench.phase": "setup"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"perfbench.phase": "loop/a"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {"perfbench.phase": "loop/b"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {"Executor Run Time": 10}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 5000, "JVM GC Time": 100}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Accumulables": [{"Name": "data sent to Python workers", "Update": "300"},
                                        {"Name": "number of output rows", "Update": "7"}]},
         "Task Metrics": {"Executor Run Time": 1500, "JVM GC Time": 20,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                          "Input Metrics": {"Bytes Read": 1000, "Records Read": 10}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor Run Time": 500, "JVM GC Time": 0,
                          "Input Metrics": {"Bytes Read": 24, "Records Read": 2}}},
        {"Event": "SparkListenerApplicationEnd"},
    ]
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_parse_event_log_sums_per_phase(tmp_path):
    p = tmp_path / "app-1"
    _event_log(p)
    by_phase = harness.parse_event_log(str(p))
    assert by_phase["loop/a"] == {
        "tasks": 2, "executor_run_s": 2.0, "gc_s": 0.02, "shuffle_write_bytes": 64,
        "input_bytes": 1024, "input_records": 12, "python_bytes_sent": 300,
    }
    assert by_phase["setup"]["executor_run_s"] == 5.0
    assert harness.phase_total(by_phase, "loop")["tasks"] == 3
    assert harness.phase_total(by_phase, "loo")["tasks"] == 0
    assert harness.find_event_log(str(tmp_path)) == str(p)


# --- tracer ------------------------------------------------------------------------------


def test_tracer_self_time_subtracts_children():
    t = harness.Tracer(enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"]
    self_s = t.self_times()
    assert self_s["outer"] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))


def test_disabled_tracer_records_nothing():
    t = harness.Tracer(enabled=False)
    with t.span("x"):
        pass
    assert t.spans == [] and t.bookkeeping_s == 0.0


def test_tracer_wrap_restores():
    class M:
        @staticmethod
        def f(x):
            return x + 1

    t = harness.Tracer(enabled=True)
    restore = t.wrap(M, "f", "m.f")
    assert M.f(1) == 2 and [s["name"] for s in t.spans] == ["m.f"]
    restore()
    M.f(1)
    assert len(t.spans) == 1


# --- references ---------------------------------------------------------------------------


def test_lttb_reference_shape():
    x = np.arange(1000, dtype=np.float64)
    y = np.sin(x / 30.0)
    idx = ref.lttb(x, y, 100)
    assert len(idx) == 100 and idx[0] == 0 and idx[-1] == 999
    assert np.all(np.diff(idx) > 0)
    assert np.array_equal(ref.lttb(x[:50], y[:50], 100), np.arange(50))


def test_stride_rows_keeps_last():
    keep = ref.stride_rows(1000, 10, factor=10)  # cap 100 -> stride 10
    assert keep[0] == 0 and keep[-1] == 999 and keep[1] == 10
    assert np.array_equal(ref.stride_rows(50, 10), np.arange(50))


def test_gross_range_flags():
    v = np.array([5.0, -1.0, 31.0, 40.0, 0.0])
    valid = np.array([True, True, True, True, False])
    assert ref.gross_range(v, valid, (-5.0, 35.0, 0.0, 30.0)).tolist() == [1, 3, 3, 4, 9]


# --- object-store fixture ----------------------------------------------------------------


def test_objstore_counts_and_keeps_alive(tmp_path):
    import http.client

    (tmp_path / "s").mkdir()
    (tmp_path / "s" / ".zmetadata").write_bytes(b"{}")
    (tmp_path / "s" / "0").write_bytes(b"x" * 100)
    proc = subprocess.Popen(
        [sys.executable, os.path.join(os.path.dirname(HERE), "objstore.py"), str(tmp_path), "--threads", "2"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        port = int(proc.stdout.readline().split()[1])
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
        for path, status, n in (("/s/0", 200, 100), ("/s/.zmetadata", 200, 2), ("/s/missing", 404, 0),
                                ("/s/0", 200, 100)):
            conn.request("GET", path)
            r = conn.getresponse()
            assert (r.status, len(r.read())) == (status, n)
        sock = conn.sock
        conn.request("HEAD", "/s/0")
        conn.getresponse().read()
        assert conn.sock is sock  # one connection served all five requests
        conn.close()
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/__stats", timeout=10) as r:
            stats = json.loads(r.read())
        assert stats == {"requests": 5, "chunk_requests": 4, "bytes": 202}
    finally:
        proc.terminate()
        proc.wait(timeout=10)
        proc.stdin.close()
        proc.stdout.close()
    assert proc.returncode is not None


# --- workload plumbing --------------------------------------------------------------------


def test_mix_interleaves_parts_over_their_own_inputs():
    import run
    import workloads

    class Part(workloads.Workload):
        def __init__(self, name, kinds):
            self.name, self.kinds = name, kinds

        def start(self, ctx):
            self.seen = (ctx.inputs, ctx.refs)

        def cycle(self, ctx):
            return [(k, lambda k=k: k) for k in self.kinds]

    mix = workloads.Mix()
    mix.parts = [Part("a", ["a1", "a2", "a3"]), Part("b", ["b1"])]
    ctx = run.Context(inputs="in", refs={"a": 1, "b": 2}, trace=False)
    mix.start(ctx)
    assert [p.seen for p in mix.parts] == [(os.path.join("in", "a"), 1), (os.path.join("in", "b"), 2)]
    assert mix.ctx["a"].counts is ctx.counts
    assert [kind for kind, _fn in mix.cycle(ctx)] == ["a1", "b1", "a2", "a3"]


def test_read_version_subtracts_deletion_vectors(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    import workloads

    def rows(ts):
        n = len(ts)
        return pa.table({"t": pa.array(ts, pa.int64()), "sensor": pa.array([0] * n, pa.int32()),
                         "value": pa.array([1.0] * n), "qc": pa.array([0] * n, pa.int32())})

    pq.write_table(rows([1, 2, 3]), tmp_path / "part-0.parquet")
    pq.write_table(rows([4, 5]), tmp_path / "part-1.parquet")
    (tmp_path / "_deletes").mkdir()
    pq.write_table(pa.table({"f": ["part-0.parquet", "part-1.parquet", "part-0.parquet"],
                             "pos": pa.array([0, 1, 2], pa.int64())}),
                   tmp_path / "_deletes" / "part-0.parquet")
    assert sorted(workloads._read_version(str(tmp_path)).column("t").to_pylist()) == [2, 4]
