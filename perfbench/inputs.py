"""Seeded workload inputs and their parquet cache.

A workload's inputs are the ``pages`` rows of ``corpus.make_page_row(i,
seed)`` for the workload's row ids, plus the oracle's golden row
(``corpus.make_golden_row``) for each.  Both tables are cached as parquet
under ``perfbench/.cache/``, one directory per (workload, seed, size,
generator-source hash).  The hash covers every byte of
``markmuse_spark/sources/`` and ``golden/oracle.py``, so a generator change
misses the cache instead of reusing stale rows, and every hit re-derives a
few randomly chosen rows and compares them, so a stale or planted entry
is rebuilt rather than trusted.  No pickle is read from the cache.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
GOLDEN_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("markdown", pa.string()),
        ("extracted_text", pa.string()),
        ("n_images", pa.int32()),
        ("error_expected", pa.string()),
    ]
)
CACHE_ENTRIES = 24  # newest entries kept; older ones are deleted
SPOT_CHECK_ROWS = 8


@dataclass(frozen=True)
class Workload:
    name: str
    size: int  # rows in the generated pages table
    kind: str  # "all", "pdf" or "html": which row ids the table holds
    resume: bool  # half of the rows committed by an earlier run

    def row_ids(self) -> list[int]:
        """The first ``size`` corpus row ids of this workload's kind
        (``corpus.row_url``: ids with ``i % 5 == 4`` are the PDF rows)."""
        if self.kind == "all":
            return list(range(self.size))
        want_pdf = self.kind == "pdf"
        ids: list[int] = []
        i = 0
        while len(ids) < self.size:
            if (i % 5 == 4) == want_pdf:
                ids.append(i)
            i += 1
        return ids


# Why each workload exists is recorded in BENCHMARK.json and README.md.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("crawl_fresh", 4000, "all", False),
        Workload("pdf_fresh", 1200, "pdf", False),
        Workload("html_resume", 6000, "html", True),
    )
}


def source_digest(root: str) -> str:
    """sha256 over the generator's and the oracle's source files."""
    files = sorted(glob.glob(os.path.join(root, "markmuse_spark", "sources", "*.py")))
    files.append(os.path.join(root, "markmuse_spark", "golden", "oracle.py"))
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()


def cache_key(workload: Workload, seed: int, root: str) -> str:
    return f"{workload.name}-seed{seed}-n{workload.size}-{source_digest(root)[:16]}"


def _generate(ids: list[int], seed: int) -> tuple[list[dict], list[dict]]:
    from markmuse_spark.sources.corpus import make_golden_row, make_page_row

    return (
        [make_page_row(i, seed) for i in ids],
        [make_golden_row(i, seed) for i in ids],
    )


def _spot_check(entry: str, ids: list[int], seed: int) -> bool:
    """Re-derive a few random rows and compare them with the cache."""
    pages = pq.read_table(os.path.join(entry, "pages.parquet"))
    golden = pq.read_table(os.path.join(entry, "golden.parquet"))
    if pages.num_rows != len(ids) or golden.num_rows != len(ids):
        return False
    picks = random.SystemRandom().sample(range(len(ids)), min(SPOT_CHECK_ROWS, len(ids)))
    want_pages, want_golden = _generate([ids[k] for k in picks], seed)
    for k, wp, wg in zip(picks, want_pages, want_golden):
        if pages.slice(k, 1).to_pylist()[0] != wp:
            return False
        if golden.slice(k, 1).to_pylist()[0] != wg:
            return False
    return True


@dataclass
class Inputs:
    pages_path: str
    golden_path: str
    row_ids: list[int]
    gen_s: float  # generation time of this cache entry
    cache_hit: bool


def prepare(workload: Workload, seed: int, root: str, cache_root: str, procs: int) -> Inputs:
    """Return the workload's cached inputs, generating them on a miss."""
    os.makedirs(cache_root, exist_ok=True)
    ignore = os.path.join(cache_root, ".gitignore")
    if not os.path.exists(ignore):
        with open(ignore, "w") as f:
            f.write("*\n")
    ids = workload.row_ids()
    entry = os.path.join(cache_root, cache_key(workload, seed, root))
    meta_path = os.path.join(entry, "meta.json")
    if os.path.exists(meta_path):
        if _spot_check(entry, ids, seed):
            with open(meta_path) as f:
                meta = json.load(f)
            os.utime(entry)
            return Inputs(
                os.path.join(entry, "pages.parquet"),
                os.path.join(entry, "golden.parquet"),
                ids, meta["gen_s"], True,
            )
        shutil.rmtree(entry)

    tmp = f"{entry}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    pages, golden = _generate_in_children(ids, seed, root, tmp, procs)
    gen_s = time.perf_counter() - t0

    pq.write_table(pages, os.path.join(tmp, "pages.parquet"))
    pq.write_table(golden, os.path.join(tmp, "golden.parquet"))
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump({"gen_s": gen_s, "rows": len(ids), "seed": seed}, f)
    os.replace(tmp, entry)
    _evict(cache_root)
    return Inputs(
        os.path.join(entry, "pages.parquet"),
        os.path.join(entry, "golden.parquet"),
        ids, gen_s, False,
    )


def _generate_in_children(
    ids: list[int], seed: int, root: str, tmp: str, procs: int
) -> tuple[pa.Table, pa.Table]:
    """Generate the rows in ``procs`` child processes, one contiguous
    slice of ``ids`` each, and return them in ``ids`` order.  Every child
    is waited for, and killed first if generation fails."""
    size = -(-len(ids) // procs)
    slices = [ids[k : k + size] for k in range(0, len(ids), size)]
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)}
    children = []
    try:
        for k, part in enumerate(slices):
            out = os.path.join(tmp, f"part{k}")
            cmd = [sys.executable, os.path.abspath(__file__), str(seed), out, ",".join(map(str, part))]
            children.append((out, subprocess.Popen(cmd, env=env, stdout=sys.stderr)))
        for out, child in children:
            if child.wait() != 0:
                raise RuntimeError(f"input generation failed: {child.args[:3]} exited {child.returncode}")
    finally:
        for _, child in children:
            if child.poll() is None:
                child.kill()
            child.wait()
    pages = pa.concat_tables(pq.read_table(f"{out}.pages.parquet") for out, _ in children)
    golden = pa.concat_tables(pq.read_table(f"{out}.golden.parquet") for out, _ in children)
    for out, _ in children:
        os.remove(f"{out}.pages.parquet")
        os.remove(f"{out}.golden.parquet")
    return pages, golden


def _evict(cache_root: str) -> None:
    entries = [
        os.path.join(cache_root, d)
        for d in os.listdir(cache_root)
        if os.path.isdir(os.path.join(cache_root, d))
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[CACHE_ENTRIES:]:
        shutil.rmtree(old, ignore_errors=True)


if __name__ == "__main__":
    # one child of _generate_in_children: <seed> <output prefix> <comma-separated ids>
    _seed, _out, _ids = sys.argv[1:]
    _pages, _golden = _generate([int(i) for i in _ids.split(",")], int(_seed))
    pq.write_table(pa.Table.from_pylist(_pages, schema=PAGES_SCHEMA), f"{_out}.pages.parquet")
    pq.write_table(pa.Table.from_pylist(_golden, schema=GOLDEN_SCHEMA), f"{_out}.golden.parquet")
