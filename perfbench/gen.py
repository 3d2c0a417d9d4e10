"""Seeded input generators, one per workload.

Every generator is a pure function of ``(root, seed)``: it writes its files
under ``root`` with numpy/pyarrow only (never through the program under
test) and returns the in-memory arrays the output checks use as their
reference. The same seed gives byte-identical files; ``tree_sha256`` is
the hash that proves it.
"""

from __future__ import annotations

import hashlib
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Per-workload salts keep the streams of different workloads independent
# for one --seed.
_SALT = {"qaqc_fleet": 11, "ingest_zarr_http": 23, "table_upsert_read": 37, "corpus_neardup": 41}


def rng_for(workload: str, seed: int) -> np.random.Generator:
    return np.random.default_rng([_SALT[workload], int(seed)])


def tree_sha256(root: str) -> str:
    """Hash of every file under ``root``: relative path and bytes, in
    sorted path order."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, root).encode() + b"\0")
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


# --- qaqc_fleet --------------------------------------------------------------

FLEET_START = np.datetime64("2024-01-01T00:00:00", "us")
FLEET_PARAMS = ("p0", "p1", "p2")
MINUTES_PER_DAY = 1440
# Gross-range dimension per param: (fail_lo, fail_hi, sus_lo, sus_hi).
FLEET_DIM = {
    "p0": (-5.0, 35.0, 0.0, 30.0),
    "p1": (20.0, 40.0, 30.0, 36.0),
    "p2": (0.0, 1000.0, 50.0, 900.0),
}
_FLEET_SHAPE = {"p0": (15.0, 4.0), "p1": (33.0, 1.0), "p2": (475.0, 120.0)}


def fleet_site(rng: np.random.Generator, days: int) -> dict[str, np.ndarray]:
    """One site's long table as arrays, ordered (day, param, minute)."""
    n = days * MINUTES_PER_DAY
    ts = FLEET_START + np.arange(n, dtype=np.int64).astype("timedelta64[m]")
    values, valid = {}, {}
    for p in FLEET_PARAMS:
        mean, sd = _FLEET_SHAPE[p]
        daily = np.sin(np.arange(n) * (2 * np.pi / MINUTES_PER_DAY))
        v = mean + sd * (0.6 * daily + rng.standard_normal(n))
        spikes = rng.random(n) < 0.002
        v[spikes] += rng.choice([-1.0, 1.0], spikes.sum()) * sd * 8
        values[p] = v
        valid[p] = rng.random(n) >= 0.001  # ~0.1% missing samples
    return {"ts": ts, "values": values, "valid": valid}


def write_fleet_site(site: dict, table_dir: str, rng: np.random.Generator) -> None:
    """Write a site in the at-scale ``date=YYYY-MM-DD`` layout, one file per
    day holding every param."""
    ts = site["ts"]
    days = len(ts) // MINUTES_PER_DAY
    for d in range(days):
        sl = slice(d * MINUTES_PER_DAY, (d + 1) * MINUTES_PER_DAY)
        n = MINUTES_PER_DAY * len(FLEET_PARAMS)
        table = pa.table(
            {
                "param": pa.array(np.repeat(np.array(FLEET_PARAMS), MINUTES_PER_DAY)),
                "ts": pa.array(np.tile(ts[sl], len(FLEET_PARAMS)), pa.timestamp("us", tz="UTC")),
                "value": pa.array(
                    np.concatenate([site["values"][p][sl] for p in FLEET_PARAMS]),
                    mask=~np.concatenate([site["valid"][p][sl] for p in FLEET_PARAMS]),
                ),
                "qc_executed": pa.array(rng.integers(0, 256, n, dtype=np.int32)),
                "qc_results": pa.array(rng.integers(0, 256, n, dtype=np.int32)),
            }
        )
        part = os.path.join(table_dir, f"date={str(ts[sl][0])[:10]}")
        os.makedirs(part)
        pq.write_table(table, os.path.join(part, "part-00000.parquet"))


FLEET_SITE = "site_00"


def gen_fleet(root: str, seed: int, days: int) -> dict:
    """One site's table, written under ``root/FLEET_SITE``."""
    rng = rng_for("qaqc_fleet", seed)
    site = fleet_site(rng, days)
    write_fleet_site(site, os.path.join(root, FLEET_SITE), rng)
    return site


# --- ingest_zarr_http ----------------------------------------------------------

ZARR_1D = ("temperature", "salinity", "pressure")
ZARR_2D = "optical_absorption"


def _zarr_array(root: str, name: str, arr: np.ndarray, chunk: int, compress: bool) -> dict:
    d = os.path.join(root, name)
    os.makedirs(d)
    meta = {
        "zarr_format": 2,
        "shape": list(arr.shape),
        "chunks": [chunk, *arr.shape[1:]],
        "dtype": arr.dtype.str,
        "compressor": {"id": "zlib", "level": 1} if compress else None,
        "fill_value": None,
        "order": "C",
        "filters": None,
    }
    for cid in range(-(-arr.shape[0] // chunk)):
        block = arr[cid * chunk : (cid + 1) * chunk]
        if block.shape[0] < chunk:  # edge chunks are stored at full shape
            pad = np.zeros((chunk - block.shape[0], *arr.shape[1:]), arr.dtype)
            block = np.concatenate([block, pad])
        buf = np.ascontiguousarray(block).tobytes()
        key = str(cid) if arr.ndim == 1 else f"{cid}.0"
        with open(os.path.join(d, key), "wb") as f:
            f.write(zlib.compress(buf, 1) if compress else buf)
    with open(os.path.join(d, ".zarray"), "w") as f:
        json.dump(meta, f)
    return meta


def gen_zarr(root: str, seed: int, instruments: int, rows: int, chunk: int, width: int) -> dict:
    """Consolidated Zarr v2 stores, one per instrument: a 1 Hz int64 time
    coordinate, three zlib 1-D float64 vars and one zlib 2-D float32 var."""
    rng = rng_for("ingest_zarr_http", seed)
    out = {}
    for i in range(instruments):
        name = f"inst_{i:02d}.zarr"
        store = os.path.join(root, name)
        os.makedirs(store)
        t0 = 1_700_000_000 + int(rng.integers(0, 86_400))
        # 1 Hz with occasional gaps, so the time -> row mapping is not linear
        steps = np.where(rng.random(rows) < 0.01, 5, 1).astype(np.int64)
        time = (t0 + np.cumsum(steps) - steps[0]) * 1_000_000_000
        arrays = {"time": time}
        for v in ZARR_1D:
            arrays[v] = rng.normal(10.0, 3.0, rows)
        arrays[ZARR_2D] = rng.random((rows, width), dtype=np.float32)
        docs = {".zgroup": {"zarr_format": 2}}
        for v, arr in arrays.items():
            docs[f"{v}/.zarray"] = _zarr_array(store, v, arr, chunk, compress=v != "time")
        with open(os.path.join(store, ".zgroup"), "w") as f:
            json.dump({"zarr_format": 2}, f)
        with open(os.path.join(store, ".zmetadata"), "w") as f:
            json.dump({"zarr_format": 1, "metadata": docs}, f)
        out[name] = arrays
    return out


# --- table_upsert_read ----------------------------------------------------------

UPSERT_SCHEMA = "t bigint, sensor int, value double, qc int"


def _upsert_table(t: np.ndarray, sensor: np.ndarray, value: np.ndarray, qc: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "t": pa.array(t, pa.int64()),
            "sensor": pa.array(sensor, pa.int32()),
            "value": pa.array(value, pa.float64()),
            "qc": pa.array(qc, pa.int32()),
        }
    )


def _upsert_block(rng: np.random.Generator, t0: int, sensors: int, m_lo: int, m_hi: int) -> dict:
    """One sample per sensor per minute in [m_lo, m_hi)."""
    m = np.repeat(np.arange(m_lo, m_hi, dtype=np.int64), sensors)
    n = len(m)
    return {
        "t": t0 + m * 60,
        "sensor": np.tile(np.arange(sensors, dtype=np.int32), m_hi - m_lo),
        "value": rng.normal(20.0, 5.0, n),
        "qc": rng.integers(0, 8, n, dtype=np.int32),
    }


UPSERT_T0 = 1_700_000_000 - 1_700_000_000 % 60


def gen_upsert(root: str, seed: int, sensors: int, base_minutes: int) -> dict:
    """The table's initial rows, one sample per sensor per minute (``t`` in
    epoch seconds), as one parquet file. Merge batches come from
    ``upsert_batch``, one at a time, so a run never runs out of them."""
    rng = rng_for("table_upsert_read", seed)
    os.makedirs(root)
    base = _upsert_block(rng, UPSERT_T0, sensors, 0, base_minutes)
    pq.write_table(_upsert_table(**base), os.path.join(root, "base.parquet"))
    return {"t0": UPSERT_T0, "base": base}


def upsert_batch(
    path: str, seed: int, b: int, sensors: int, base_minutes: int, arrivals_minutes: int,
    corrections: int,
) -> dict:
    """Merge batch ``b``, from its own stream of the seed: the next
    ``arrivals_minutes`` of samples after batch ``b - 1`` plus
    ``corrections`` late corrections to distinct older keys. Written as one
    parquet file at ``path``."""
    rng = np.random.default_rng([_SALT["table_upsert_read"], int(seed), 1 + b])
    end = base_minutes + b * arrivals_minutes
    new = _upsert_block(rng, UPSERT_T0, sensors, end, end + arrivals_minutes)
    keys = rng.choice(end * sensors, corrections, replace=False)
    corr = {
        "t": UPSERT_T0 + (keys // sensors) * 60,
        "sensor": (keys % sensors).astype(np.int32),
        "value": rng.normal(20.0, 5.0, corrections),
        "qc": np.full(corrections, 9, np.int32),
    }
    batch = {k: np.concatenate([new[k], corr[k]]) for k in new}
    pq.write_table(_upsert_table(**batch), path)
    return batch


# --- corpus_neardup ----------------------------------------------------------

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    words = set()
    while len(words) < size:
        n = int(rng.integers(3, 10))
        words.add("".join(rng.choice(_LETTERS, n)))
    return sorted(words)


def gen_corpus(
    root: str, seed: int, docs: int, words: int, clusters: int, dim: int, queries: int,
) -> dict:
    """A document corpus with planted near-duplicate clusters, plus
    embedding vectors and a query batch.

    Background documents are independent draws from a 4,000-word vocabulary
    (pairwise 5-gram Jaccard near 0). Each cluster is a source document plus
    1-2 copies with one letter changed, which keeps every planted pair's
    5-gram Jaccard near 0.98, where 16-hash / 4-band LSH misses a pair with
    probability about 1e-5. Queries are perturbed copies of corpus vectors."""
    rng = rng_for("corpus_neardup", seed)
    vocab = np.array(_vocab(rng, 4000))
    texts = [" ".join(rng.choice(vocab, words)) for _ in range(docs)]
    planted = []
    next_id = docs
    for c in range(clusters):
        src = int(rng.integers(0, docs))
        members = [src]
        for _ in range(int(rng.integers(1, 3))):
            chars = list(texts[src])
            pos = int(rng.integers(0, len(chars)))
            while chars[pos] == " ":
                pos = int(rng.integers(0, len(chars)))
            chars[pos] = str(rng.choice(_LETTERS[_LETTERS != chars[pos]]))
            texts.append("".join(chars))
            members.append(next_id)
            next_id += 1
        planted.append(members)
    ids = np.arange(len(texts), dtype=np.int64)
    emb = rng.standard_normal((len(texts), dim))
    q_src = rng.choice(len(texts), queries, replace=False)
    q_vec = emb[q_src] + 0.05 * rng.standard_normal((queries, dim))
    os.makedirs(root)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)}),
        os.path.join(root, "documents.parquet"),
    )
    pq.write_table(
        pa.table({"vec_id": pa.array(ids), "embedding": pa.array(list(emb), pa.list_(pa.float64()))}),
        os.path.join(root, "embeddings.parquet"),
    )
    q_ids = np.arange(queries, dtype=np.int64) + 1_000_000
    pq.write_table(
        pa.table({"q_id": pa.array(q_ids), "q_vec": pa.array(list(q_vec), pa.list_(pa.float64()))}),
        os.path.join(root, "queries.parquet"),
    )
    return {"texts": texts, "planted": planted, "emb": emb, "q_ids": q_ids, "q_vec": q_vec}
