"""Seeded, verified parquet cache of the synthetic image table.

An entry is keyed by ``(seed, n, tiles_axis)``.  It is written once from
``synth.images_pdf`` -- the row generator that ``synth.images_df`` maps
over each id range, so the rows are the same -- by ``nproc`` worker
processes (this file run as a script), one parquet file per contiguous
id range, before the measured Spark session starts.  Generating inside
that session would leave its Python workers booted and its JVM warm,
and ``cold_s`` would then depend on whether the cache was hit.

Before every use an entry is checked two ways, so that a stale entry (an
older generator, a truncated write) cannot silently change the workload:

- the row count in the parquet footers equals ``n``;
- a few sample rows, regenerated on the driver with ``synth.images_pdf``,
  are byte-identical to the cached rows.

An entry that fails either check is deleted and rebuilt, and the run
records that it was.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from raster_tools_spark import synth

META = "_meta.json"  # "_" keeps Spark from reading it as data
SAMPLE_COLS = ("image_id", "bytes", "w", "h", "fmt", "phash")
KEEP_ENTRIES = 24  # newest entries kept; one is ~42 KB per image


def entry_dir(cache_dir: str, seed: int, n: int, tiles_axis: int) -> str:
    return os.path.join(cache_dir, f"images_s{seed}_n{n}_ax{tiles_axis}")


def _sample_ids(n: int) -> list:
    return sorted({0, n // 2, n - 1})


def _rows_digest(rows: list) -> str:
    """md5 over the sample rows, each a dict of SAMPLE_COLS."""
    h = hashlib.md5()
    for r in sorted(rows, key=lambda r: r["image_id"]):
        for c in SAMPLE_COLS:
            v = r[c]
            h.update(v if isinstance(v, bytes) else str(v).encode())
            h.update(b"\0")
    return h.hexdigest()


def expected_sample_digest(seed: int, n: int, tiles_axis: int) -> str:
    rows = []
    for i in _sample_ids(n):
        pdf = synth.images_pdf(i, i + 1, seed=seed, tiles_axis=tiles_axis)
        rows.append({c: pdf[c].iloc[0] for c in SAMPLE_COLS})
    return _rows_digest(rows)


def parquet_files(path: str) -> list:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def parquet_stats(path: str):
    """(rows, bytes on disk) of a parquet directory, from the footers."""
    files = parquet_files(path)
    return (sum(pq.ParquetFile(f).metadata.num_rows for f in files),
            sum(os.path.getsize(f) for f in files))


def cached_sample_digest(path: str, n: int) -> str:
    names = [f"img_{i:012d}" for i in _sample_ids(n)]
    table = ds.dataset(parquet_files(path), format="parquet").to_table(
        columns=list(SAMPLE_COLS),
        filter=ds.field("image_id").isin(names),
    )
    return _rows_digest(table.to_pylist())


def verify(path: str, seed: int, n: int, tiles_axis: int) -> str | None:
    """None when the entry is usable, else the reason it is not."""
    meta_path = os.path.join(path, META)
    if not os.path.isfile(meta_path):
        return "no metadata"
    rows, _ = parquet_stats(path)
    if rows != n:
        return f"row count {rows} != {n}"
    want = expected_sample_digest(seed, n, tiles_axis)
    if cached_sample_digest(path, n) != want:
        return "sample rows differ from the generator"
    return None


def _write_range(start: int, stop: int, seed: int, tiles_axis: int,
                 path: str) -> None:
    pdf = synth.images_pdf(start, stop, seed=seed, tiles_axis=tiles_axis)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)


def _generate(path: str, seed: int, n: int, tiles_axis: int,
              workers: int) -> None:
    os.makedirs(path)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p
    )
    bounds = [n * k // workers for k in range(workers + 1)]
    procs = [
        subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(a), str(b),
             str(seed), str(tiles_axis),
             os.path.join(path, f"part-{k:05d}.parquet")],
            env=env,
        )
        for k, (a, b) in enumerate(zip(bounds, bounds[1:])) if b > a
    ]
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"input generation failed: exit codes {codes}")


def prepare(cache_dir: str, seed: int, n: int, tiles_axis: int,
            workers: int):
    """Make sure a verified entry exists; returns ``(path, meta,
    rebuilt_reason)``.  ``meta["prepare_s"]`` is
    the generation time of the entry, whichever run paid it;
    ``meta["prepared_now"]`` says whether this call paid it."""
    path = entry_dir(cache_dir, seed, n, tiles_axis)
    if os.path.isdir(path):
        reason = verify(path, seed, n, tiles_axis)
    else:
        reason = "missing"
    if reason is not None:
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        _generate(tmp, seed, n, tiles_axis, workers)
        prepare_s = time.perf_counter() - t0
        meta = {
            "seed": seed, "n": n, "tiles_axis": tiles_axis,
            "prepare_s": prepare_s,
            "bytes": parquet_stats(tmp)[1],
        }
        with open(os.path.join(tmp, META), "w") as f:
            json.dump(meta, f)
        os.rename(tmp, path)
        _evict(cache_dir, keep=path)
    with open(os.path.join(path, META)) as f:
        meta = json.load(f)
    meta["prepared_now"] = reason is not None
    os.utime(path)  # newest-used entries survive eviction
    return path, meta, (None if reason == "missing" else reason)


def _evict(cache_dir: str, keep: str) -> None:
    entries = [
        os.path.join(cache_dir, d) for d in os.listdir(cache_dir)
        if d.startswith("images_") and not d.endswith(".tmp")
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[KEEP_ENTRIES:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


if __name__ == "__main__":
    # worker of _generate: write rows [start, stop) to one parquet file
    start, stop, seed, tiles_axis = (int(v) for v in sys.argv[1:5])
    _write_range(start, stop, seed, tiles_axis, sys.argv[5])
