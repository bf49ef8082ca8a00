"""Seeded workload inputs, materialized once per (workload, size, seed,
generator fingerprint) into the checkout's ``.perfbench/inputs`` cache.

Generation is pure Python (``extraction.corpus.gen_doc``) in spawned
worker processes, outside any Spark session, so it never warms the session
it would otherwise be timed against and never counts toward ``setup_s``.

Layout of one materialized input:

- ``docs/part-KKK.parquet``: the corpus, ``FILES`` contiguous index ranges
  (the scan's partition count);
- ``frags/fJJJa.parquet`` holds fragment 0 of range JJJ and
  ``frags/fJJJb.parquet`` fragment 1 of range JJJ - RANGES_PER_BATCH
  (modulo FILES). Read in name order, RANGES_PER_BATCH ranges' files per
  trigger, every micro-batch stages the first fragments of its ranges and
  completes those of the batch before from staging (the last batch's
  ranges get their second fragments in the first batch), so every doc is
  assembled across two micro-batches. File mtimes follow the names, which
  is the order a file stream source reads them in.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import sys
from concurrent.futures import ProcessPoolExecutor
from dataclasses import dataclass

FILES = 8
RANGES_PER_BATCH = 2
KEEP_CACHED = 24


@dataclass
class Inputs:
    docs_dir: str
    frags_dir: str
    n_docs: int
    n_spans: int
    docs_bytes: int
    heavy_spans: int
    seed: int


def _fingerprint(src: str) -> str:
    h = hashlib.sha256()
    for name in ("corpus.py", "schema.py", "constants.py", "streaming.py"):
        with open(os.path.join(src, "extraction", name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _write_part(job: list) -> int:
    """Write docs ``lo..hi-1`` as part ``k`` and their two fragments; returns
    their span count."""
    src, out, k, lo, hi, seed, heavy_spans = job
    if src not in sys.path:
        sys.path.insert(0, src)
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from extraction.corpus import gen_doc
    from extraction.schema import DOCS_SCHEMA
    from extraction.streaming import FRAGMENTS_SCHEMA

    rows = [gen_doc(i, seed, heavy_spans) for i in range(lo, hi)]
    ids = [r[0] for r in rows]
    spans = [r[1] for r in rows]
    pq.write_table(
        pa.Table.from_pydict(
            {"doc_id": ids, "spans": spans}, schema=to_arrow_schema(DOCS_SCHEMA)
        ),
        os.path.join(out, "docs", f"part-{k:03d}.parquet"),
    )
    frag_schema = to_arrow_schema(FRAGMENTS_SCHEMA)
    halves = [(len(s) + 1) // 2 for s in spans]
    for frag_id, name, parts in (
        (0, f"f{k:03d}a", [s[:h] for s, h in zip(spans, halves)]),
        (
            1,
            f"f{(k + RANGES_PER_BATCH) % FILES:03d}b",
            [s[h:] for s, h in zip(spans, halves)],
        ),
    ):
        pq.write_table(
            pa.Table.from_pydict(
                {
                    "doc_id": ids,
                    "frag_id": [frag_id] * len(ids),
                    "n_frags": [2] * len(ids),
                    "spans": parts,
                },
                schema=frag_schema,
            ),
            os.path.join(out, "frags", f"{name}.parquet"),
        )
    return sum(len(s) for s in spans)


def _evict(cache: str) -> None:
    """Drop the least recently used inputs past ``KEEP_CACHED`` and the
    half-written ones an interrupted run left behind."""
    for e in os.listdir(cache):
        if e.startswith(".tmp-"):
            shutil.rmtree(os.path.join(cache, e), ignore_errors=True)
    entries = sorted(
        (os.path.join(cache, e) for e in os.listdir(cache) if not e.startswith(".")),
        key=os.path.getmtime,
    )
    for stale in entries[:-KEEP_CACHED]:
        shutil.rmtree(stale, ignore_errors=True)


def materialize(
    root: str, workload: str, n_docs: int, heavy_spans: int, seed: int, procs: int
) -> Inputs:
    src = os.path.join(root, "src")
    cache = os.path.join(root, ".perfbench", "inputs")
    key = f"{workload}-{n_docs}-{heavy_spans}-s{seed}-{_fingerprint(src)}"
    final = os.path.join(cache, key)
    meta_path = os.path.join(final, "meta.json")
    if not os.path.exists(meta_path):
        tmp = os.path.join(cache, f".tmp-{key}-{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "docs"))
        os.makedirs(os.path.join(tmp, "frags"))
        bounds = [n_docs * k // FILES for k in range(FILES + 1)]
        jobs = [
            [src, tmp, k, bounds[k], bounds[k + 1], seed, heavy_spans]
            for k in range(FILES)
        ]
        with ProcessPoolExecutor(
            max(1, min(procs, FILES)), mp_context=multiprocessing.get_context("spawn")
        ) as pool:
            n_spans = sum(pool.map(_write_part, jobs))
        frags = os.path.join(tmp, "frags")
        for t, name in enumerate(sorted(os.listdir(frags))):
            stamp = 1_600_000_000 + t
            os.utime(os.path.join(frags, name), (stamp, stamp))
        docs = os.path.join(tmp, "docs")
        docs_bytes = sum(
            os.path.getsize(os.path.join(docs, f)) for f in os.listdir(docs)
        )
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({"n_spans": n_spans, "docs_bytes": docs_bytes}, f)
        os.rename(tmp, final)
        _evict(cache)
    os.utime(final)  # recency for eviction
    with open(meta_path) as f:
        meta = json.load(f)
    return Inputs(
        docs_dir=os.path.join(final, "docs"),
        frags_dir=os.path.join(final, "frags"),
        n_docs=n_docs,
        n_spans=meta["n_spans"],
        docs_bytes=meta["docs_bytes"],
        heavy_spans=heavy_spans,
        seed=seed,
    )

