"""Seeded synthetic lake tag for the report_menu workload.

Writes ``<root>/storcrawl_<TAG>/files`` and ``/status`` as Parquet in the
program's ``FILES_SCHEMA`` / ``STATUS_SCHEMA`` shapes (``files`` sorted by
path and split into several part files, as ``write_crawl`` lays it out),
without going through Spark.  ``make_lake`` returns, per report action, the
row count the report must print, known by construction.

Timestamps: "recent" files carry times in 2100 and "old" ones in 2000, so
the ``NOW()``-relative window of ``large_old_files`` (about 7 days) is
decades away from every value, and the same seed gives the same bytes.

The crawled paths sit under one root one level below "/" (``/data``), the
shape of a crawl of a single mount point.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sizes import TAG

LAKE_ROOT = "/data"
RECENT_EPOCH = 4_102_444_800   # 2100-01-01
OLD_EPOCH = 946_684_800        # 2000-01-01
LARGE_MIN = 3 * 1024**3        # large_old_files size floor
FILE_PARTS = 4
STATUS_CRAWLS = 200             # crawl runs recorded in the status table

_EXTS = [b"txt", b"csv", b"gz", b"tar.gz", b"bam", b"parquet", b"json", b"h5", b"", None]
_OWNERS = ["alice", "bob", "carol", "dan", "erin", None]
_RATES = [("file stat rate", "files/sec"), ("file walk rate", "entries/sec"),
          ("insert rate", "inserts/sec")]
_EVENTS = ["begin", "walker started", "stater started", "dbproc started",
           "all processes spawned", "processed all dirs", "processed all files",
           "processed all DB commits", "end"]
_COUNTERS = [("files stated", "files"), ("total files", "files"),
             ("file metadata inserts", "inserts")]

FILES_ARROW = pa.schema([
    ("id", pa.int64(), False), ("insert_time", pa.timestamp("us", tz="UTC"), False),
    ("path", pa.binary(), False), ("extension", pa.binary()), ("st_mode", pa.string(), False),
    ("st_ino", pa.int64()), ("st_dev", pa.string()), ("st_nlink", pa.int32()),
    ("st_uid", pa.int64()), ("st_gid", pa.int64()), ("st_size", pa.int64()),
    ("st_atime", pa.int64()), ("st_mtime", pa.int64()), ("st_ctime", pa.int64()),
    ("owner", pa.string()),
])
STATUS_ARROW = pa.schema([
    ("id", pa.int64(), False), ("time", pa.timestamp("us", tz="UTC"), False),
    ("status", pa.string(), False), ("value", pa.float64()), ("units", pa.string()),
    ("entry", pa.string()),
])


def _dirs(rng: np.random.Generator, n_dirs: int) -> list[bytes]:
    """Random directory tree under LAKE_ROOT; parents precede children."""
    dirs = [LAKE_ROOT.encode()]
    depth = [0]
    while len(dirs) < n_dirs:
        p = int(rng.integers(len(dirs)))
        if depth[p] >= 6:
            continue
        dirs.append(dirs[p] + b"/d%d" % len(dirs))
        depth.append(depth[p] + 1)
    return dirs


def make_lake(root: str, seed: int, rows: int) -> dict:
    """Write the lake tag ``TAG`` with about ``rows`` files rows and return
    ``{"rows": ..., "expected": {action: rows}}``."""
    rng = np.random.default_rng(seed)
    n_dirs = max(8, rows // 50)
    dirs = _dirs(rng, n_dirs)
    n_files = rows - n_dirs
    # every directory holds at least one file, the rest land Pareto-skewed
    parent = np.concatenate([np.arange(n_dirs), rng.zipf(1.6, n_files - n_dirs) % n_dirs])
    ext_idx = rng.integers(len(_EXTS), size=n_files)
    names = [
        dirs[p] + b"/f%d" % i + (b"" if e is None else b"." + e)
        for i, (p, e) in enumerate(zip(parent.tolist(), (_EXTS[k] for k in ext_idx)))
    ]
    paths = dirs + names
    n = len(paths)
    is_dir = np.zeros(n, dtype=bool)
    is_dir[:n_dirs] = True
    sizes = rng.lognormal(9, 3, size=n).astype(np.int64) % (1 << 40)
    large = rng.random(n) < 0.01
    sizes[large] = LARGE_MIN + rng.integers(1 << 34, size=int(large.sum()))
    sizes[is_dir] = 4096
    recent = rng.random(n) < 0.3
    base = np.where(recent, RECENT_EPOCH, OLD_EPOCH)
    mtime = base + rng.integers(86_400 * 300, size=n)
    ctime = base + rng.integers(86_400 * 300, size=n)
    atime = base + rng.integers(86_400 * 300, size=n)
    owner_idx = rng.integers(len(_OWNERS), size=n)
    mode = np.where(is_dir, 0o040755, 0o100644)
    order = np.argsort(np.array(paths, dtype=object), kind="stable")
    exts = [None] * n_dirs + [_EXTS[k] for k in ext_idx]

    files = pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "insert_time": pa.array(np.full(n, 1_700_000_000_000_000, dtype=np.int64),
                                type=pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "path": pa.array(paths, type=pa.binary()),
        "extension": pa.array(exts, type=pa.binary()),
        "st_mode": pa.array([format(int(m), "019b") for m in mode]),
        "st_ino": pa.array(rng.permutation(n).astype(np.int64) + 1000),
        "st_dev": pa.array(["2049"] * n),
        "st_nlink": pa.array(np.where(is_dir, 2, 1).astype(np.int32)),
        "st_uid": pa.array(rng.integers(1000, 1010, size=n)),
        "st_gid": pa.array(rng.integers(100, 105, size=n)),
        "st_size": pa.array(sizes),
        "st_atime": pa.array(atime), "st_mtime": pa.array(mtime), "st_ctime": pa.array(ctime),
        "owner": pa.array([_OWNERS[k] for k in owner_idx]),
    }, schema=FILES_ARROW).take(pa.array(order))
    tag_dir = os.path.join(root, f"storcrawl_{TAG}")
    os.makedirs(os.path.join(tag_dir, "files"))
    step = -(-n // FILE_PARTS)
    for k in range(FILE_PARTS):
        pq.write_table(files.slice(k * step, step),
                       os.path.join(tag_dir, "files", f"part-{k:05d}.parquet"))

    status = _status(rng, STATUS_CRAWLS)
    os.makedirs(os.path.join(tag_dir, "status"))
    pq.write_table(status, os.path.join(tag_dir, "status", "part-00000.parquet"))

    statuses = status.column("status").to_pylist()
    units = status.column("units").to_pylist()
    # du: every proper ancestor below "/" of every row; with every dir
    # non-empty that is each directory, LAKE_ROOT included
    recent_change = (mtime + 608_400 >= RECENT_EPOCH) | (ctime + 608_400 >= RECENT_EPOCH)
    large_recent = (sizes >= LARGE_MIN) & recent_change & ~is_dir
    expected = {
        "status-brief": len(set(statuses)),
        "status-averages": len({(s, u) for s, u in zip(statuses, units) if s.endswith("rate")}),
        "status-events": units.count("event"),
        "1000": min(1000, n),
        "large_old_files": int((large_recent & ~is_dir).sum()),
        "du": n_dirs,
        "extension-usage": len(set(exts)),
        "owner-usage": len({_OWNERS[k] for k in owner_idx}),
        "schema-all": len(FILES_ARROW) + len(STATUS_ARROW),
    }
    return {"rows": n, "expected": expected}


def _status(rng: np.random.Generator, crawls: int) -> pa.Table:
    """``crawls`` crawl runs' worth of lifecycle events and rate snapshots."""
    rows = []
    t = 1_600_000_000
    for _ in range(crawls):
        for ev in _EVENTS:
            rows.append((ev, None, "event"))
        for st, u in _COUNTERS:
            rows.append((st, float(rng.integers(1, 10**7)), u))
        for _ in range(int(rng.integers(1, 6))):
            for st, u in _RATES:
                rows.append((st, float(rng.gamma(2.0, 5000.0)), u))
    ids = np.arange(len(rows), dtype=np.int64)
    times = (t + ids * 7) * 1_000_000
    return pa.table({
        "id": pa.array(ids),
        "time": pa.array(times, type=pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "status": pa.array([r[0] for r in rows]),
        "value": pa.array([r[1] for r in rows], type=pa.float64()),
        "units": pa.array([r[2] for r in rows]),
        "entry": pa.array([None] * len(rows), type=pa.string()),
    }, schema=STATUS_ARROW)
