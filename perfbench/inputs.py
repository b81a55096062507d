"""Seeded benchmark inputs, generated once and cached content-keyed.

Both workloads share one catalog, the flagship fixture
(``dagli_spark.fixtures.materialize(seed=POOL_SEED)``): its images and
events are generated once per checkout. The workload seed drives the
queries over it, written here with pyarrow, so a new seed costs well
under a second and needs no Spark.

- ``pit_images``: the fixture as generated (filter-0 PNG and QJPG).
- ``png_filtered``: the same events and queries; a quota of the
  fixture's PNGs is re-encoded from the same pixels with adaptive
  per-scanline filters (``pngfilter``).

A cache entry is a directory with a ``manifest.json`` holding the table
paths and row counts; :func:`verify` re-checks the counts from parquet
footers.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dagli_spark import fixtures
from dagli_spark.images.codec import decode_png

import pngfilter

WORKLOADS = ("pit_images", "png_filtered")

# Seed of the shared catalog (images and events).
POOL_SEED = 0

# The fixture tier, registered with the fixture generator under its own
# name: images, entities, events, queries (the generated queries are
# replaced by seeded ones).
FIXTURE_TIER = "perfbench"
FIXTURE_SIZES = (600, 32, 12_000, 6_000)

# Queries per event, as in the fixture tiers; plus this share of extra
# queries on entities without events.
QUERY_RATIO = 0.5
NO_EVENT_SHARE = 0.05

# png_filtered: PNGs re-encoded with adaptive filters, per image side.
# The quota halves with each doubling of the side so every size class
# costs about the same to defilter.
PNG_QUOTA = {32: 24, 64: 12, 128: 6}

_T0_US = fixtures.T0_US
_TS = pa.timestamp("us", tz="UTC")


def _code_version() -> str:
    h = hashlib.sha256()
    here = os.path.dirname(os.path.abspath(__file__))
    for name in ("inputs.py", "pngfilter.py"):
        with open(os.path.join(here, name), "rb") as f:
            h.update(f.read())
    h.update(repr((fixtures.GEN_VERSION, POOL_SEED, FIXTURE_SIZES,
                   QUERY_RATIO, NO_EVENT_SHARE, PNG_QUOTA)).encode())
    return h.hexdigest()[:12]


def _entry_dir(cache: str, workload: str, seed: int) -> str:
    return os.path.join(cache, "inputs",
                        f"{workload}_seed{seed}_{_code_version()}")


def rows_in(path: str) -> int:
    return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
               for f in sorted(os.listdir(path)) if f.endswith(".parquet"))


def verify(entry: str) -> dict:
    """Load a cache entry's manifest and check every table's row count
    against its parquet footers. Raises if anything is missing."""
    with open(os.path.join(entry, "manifest.json")) as f:
        man = json.load(f)
    for table, path in man["paths"].items():
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            raise FileNotFoundError(f"{table}: no _SUCCESS under {path}")
        got = rows_in(path)
        if got != man["rows"][table]:
            raise ValueError(f"{table}: {got} rows, manifest says "
                             f"{man['rows'][table]}")
    return man


def ensure(get_spark, cache: str, workload: str, seed: int) -> str:
    """The cache entry for (workload, seed), generating it if absent.
    ``get_spark()`` is called only when the catalog must be generated."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    entry = _entry_dir(cache, workload, seed)
    if os.path.exists(os.path.join(entry, "manifest.json")):
        return entry
    tmp = entry + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    fx = _fixture_pool(get_spark, cache)
    paths = {"images": fx["images"], "image_events": fx["image_events"],
             "queries": os.path.join(entry, "queries")}
    if workload == "png_filtered":
        paths["images"] = _filtered_pool(fx["images"], cache)
    _write_queries(fx["image_events"], tmp, seed)
    man = {"workload": workload, "seed": seed, "paths": paths,
           "rows": {t: rows_in(p.replace(entry, tmp))
                    for t, p in paths.items()}}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1)
    os.replace(tmp, entry)
    return entry


def _fixture_pool(get_spark, cache: str) -> dict:
    """The shared catalog: the flagship fixture at ``POOL_SEED``."""
    fixtures.SCALES.setdefault(FIXTURE_TIER, FIXTURE_SIZES)
    base = os.path.join(cache, "fixtures")
    root = fixtures.fixture_root(FIXTURE_TIER, seed=POOL_SEED, base_dir=base)
    tables = ("images", "image_events", "queries")
    if all(os.path.exists(os.path.join(root, t, "_SUCCESS"))
           for t in tables):
        return {t: os.path.join(root, t) for t in tables}
    return fixtures.materialize(get_spark(), FIXTURE_TIER, seed=POOL_SEED,
                                base_dir=base)


def _filtered_pool(images: str, cache: str) -> str:
    """png_filtered's images: the catalog's, with the PNG quota
    re-encoded."""
    pool = os.path.join(cache, "inputs", f"filtered_images_{_code_version()}")
    if not os.path.exists(os.path.join(pool, "_SUCCESS")):
        shutil.rmtree(pool + ".tmp", ignore_errors=True)
        _write_filtered_images(images, pool + ".tmp")
        os.replace(pool + ".tmp", pool)
    return pool


# ----------------------------------------------------------------- images

def _write_filtered_images(src: str, dst: str) -> None:
    """Copy generated images file by file, re-encoding every k-th PNG of
    each size class (k chosen so each class meets its quota)."""
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    tables = [pq.read_table(os.path.join(src, f)) for f in files]
    meta = pa.concat_tables(t.select(["image_id", "w", "h", "fmt"])
                            for t in tables).to_pandas()
    pick = set()
    for size, quota in PNG_QUOTA.items():
        ids = meta.loc[(meta.fmt == "png") & (meta.w == size)
                       & (meta.h == size), "image_id"].sort_values()
        if len(ids) < quota:
            raise ValueError(f"only {len(ids)} {size}px PNGs for a quota "
                             f"of {quota}")
        step = len(ids) / quota
        pick.update(ids.iloc[int(i * step)] for i in range(quota))
    os.makedirs(dst)
    for f, t in zip(files, tables):
        ids = t.column("image_id").to_pylist()
        blobs = t.column("bytes").to_pylist()
        for i, (iid, b) in enumerate(zip(ids, blobs)):
            if iid in pick:
                blobs[i] = pngfilter.encode_png_filtered(decode_png(b))
        col = t.schema.get_field_index("bytes")
        t = t.set_column(col, t.schema.field(col),
                         pa.array(blobs, type=pa.binary()))
        pq.write_table(t, os.path.join(dst, f))
    open(os.path.join(dst, "_SUCCESS"), "w").close()


# ---------------------------------------------------------- seeded queries

def _u01(*keys) -> np.ndarray:
    return fixtures._mix(*keys).astype(np.float64) / float(2**64)


def _entity_queries(seed: int, k: int, times: np.ndarray) -> np.ndarray:
    """As-of times for one entity with sorted event ``times``, in
    proportion to its events: half between two events, a quarter exactly
    at an event time (a tie with the event), a quarter before its first
    event (no history)."""
    cnt = len(times)
    nq = max(1, int(round(cnt * QUERY_RATIO)))
    j = (fixtures._mix(seed, 108, k, np.arange(nq))
         % np.uint64(cnt)).astype(np.int64)
    mode = _u01(seed, 109, k, np.arange(nq))
    nxt = times[np.minimum(j + 1, cnt - 1)]
    between = times[j] + (nxt - times[j]) // 2 + 1
    before = times[0] - 1 - (_u01(seed, 110, k, np.arange(nq))
                             * 86400e6).astype(np.int64)
    return np.where(mode < 0.5, between,
                    np.where(mode < 0.75, times[j], before))


def _write_table(cols: dict, path: str, parts: int = 8) -> None:
    t = pa.table(cols)
    os.makedirs(path)
    n = t.num_rows
    for i in range(parts):
        lo, hi = n * i // parts, n * (i + 1) // parts
        pq.write_table(t.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def _write_queries(events_dir: str, out: str, seed: int) -> None:
    """Seeded queries for every entity of the events table, plus
    ``NO_EVENT_SHARE`` more on entities that have no events."""
    ev = pq.read_table(events_dir, columns=["entity_id", "event_time"])
    ids = ev.column("entity_id").to_numpy(zero_copy_only=False)
    us = ev.column("event_time").cast(pa.int64()).to_numpy()
    order = np.lexsort((us, ids))
    ids, us = ids[order], us[order]
    entities, starts = np.unique(ids, return_index=True)
    bounds = list(starts[1:]) + [len(ids)]
    asofs = [_entity_queries(seed, k, us[lo:hi])
             for k, (lo, hi) in enumerate(zip(starts, bounds))]
    extra = max(1, int(round(sum(len(a) for a in asofs) * NO_EVENT_SHARE)))
    ents = [np.full(len(a), e, dtype=object)
            for e, a in zip(entities, asofs)]
    ents.append(np.array([f"none_{i:06d}" for i in range(extra)],
                         dtype=object))
    asofs.append(np.int64(_T0_US) + (_u01(seed, 111, np.arange(extra))
                                     * 30 * 86400e6).astype(np.int64))
    _write_table({
        "entity_id": pa.array(np.concatenate(ents), pa.string()),
        "asof_time": pa.array(np.concatenate(asofs), _TS),
        "qseq": pa.array(np.concatenate([np.arange(len(a), dtype=np.int64)
                                         for a in asofs]), pa.int64()),
    }, os.path.join(out, "queries"))
