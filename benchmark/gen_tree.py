"""Seeded directory-tree generator for the crawl_sink workload.

The tree has one root (the real mount-point shape) and a directory
hierarchy of fixed level widths with random parents and skewed
per-directory file counts (the same counts for every seed, dealt out to
different directories).  File names cover the
extension edge cases of the crawl's ``find_extension``: no dot, a trailing
dot, multi-dot tails, over-long extensions, hidden files and names that are
not valid UTF-8.  File sizes are set with ``ftruncate`` (sparse, so the
tree costs no disk blocks).  A few symlinks point at files and directories
(never descended), and one excluded directory (``.snapshot``) holds
children the crawl must not emit.

``make_tree`` returns a manifest of what the crawl must report: the entry
count and the total ``st_size`` over every entry it should emit, plus the
owners file it wrote.
"""

from __future__ import annotations

import os
import math
import random
from concurrent.futures import ThreadPoolExecutor
from statistics import NormalDist

EXCLUDED = ".snapshot"
MEAN_FILES = 40  # files per directory, on average
CREATE_THREADS = 4
_WORDS = ("alpha", "beta", "gamma", "delta", "run", "sample", "img", "seq",
          "raw", "out", "tmp", "notes", "data", "model", "cfg", "log")
_EXTS = ("", ".", ".txt", ".csv", ".tar.gz", ".fastq.gz", ".parquet",
         ".longextension", ".py", ".bam", ".json", ".v1.2")


def _file_name(rng: random.Random, i: int) -> bytes:
    r = rng.random()
    if r < 0.02:
        return b"bad\xff\xfe%d.bin" % i           # not valid UTF-8
    if r < 0.04:
        return b".hidden%d" % i
    return f"{rng.choice(_WORDS)}_{i}{rng.choice(_EXTS)}".encode()


def _file_size(rng: random.Random) -> int:
    r = rng.random()
    if r < 0.2:
        return 0
    if r < 0.98:
        return int(rng.lognormvariate(8, 2)) % (1 << 24)
    return rng.randrange(1 << 24, 1 << 26)


def _create(files: list[tuple[bytes, int]]) -> None:
    for p, size in files:
        fd = os.open(p, os.O_CREAT | os.O_WRONLY, 0o644)
        try:
            if size:
                os.ftruncate(fd, size)
        finally:
            os.close(fd)


def make_tree(base: str, seed: int, entries: int) -> dict:
    """Build a tree of about ``entries`` entries under ``base/root`` and
    return its manifest.  The same seed builds the same tree."""
    rng = random.Random(seed)
    root = os.path.join(base, "root").encode()
    os.makedirs(root)
    n_dirs = max(4, entries // (MEAN_FILES + 1))
    dirs = [root]
    created: list[bytes] = []  # every entry the crawl must emit, root excluded
    # Fixed level widths (1, 8, 32, 128, ... the rest): every seed gives the
    # crawl the same number of frontier levels and frontier sizes; the seed
    # picks parents, names, file counts, sizes and extensions.
    level, width = [root], 8
    while len(dirs) < n_dirs:
        width = min(width, n_dirs - len(dirs))
        nxt = []
        for _ in range(width):
            parent = level[rng.randrange(len(level))]
            d = os.path.join(parent, b"d%d_%s" % (len(dirs), rng.choice(_WORDS).encode()))
            os.mkdir(d)
            dirs.append(d)
            nxt.append(d)
            created.append(d)
        level, width = nxt, width * 4
    n_files = entries - len(dirs)
    # skewed fan-out: lognormal weights, so some directories hold many files.
    # The weights are fixed quantiles that the seed only deals out, so every
    # seed has the same directory sizes (as it has the same level widths).
    unit = NormalDist()
    weights = [math.exp(unit.inv_cdf((k + 0.5) / len(dirs))) for k in range(len(dirs))]
    rng.shuffle(weights)
    total_w = sum(weights)
    files = []
    for d, w in zip(dirs, weights):
        for _ in range(round(n_files * w / total_w)):
            files.append((os.path.join(d, _file_name(rng, len(files))), _file_size(rng)))
    # file creation is bound by the filesystem's create latency, so a few
    # threads (which release the GIL in open) cut it several times over
    step = -(-len(files) // CREATE_THREADS)
    with ThreadPoolExecutor(CREATE_THREADS) as pool:
        list(pool.map(_create, (files[k:k + step] for k in range(0, len(files), step))))
    created += [p for p, _ in files]
    # symlinks: emitted as entries, never followed
    for k in range(8):
        d = dirs[rng.randrange(len(dirs))]
        target = created[rng.randrange(len(created))] if k % 2 else dirs[rng.randrange(len(dirs))]
        link = os.path.join(d, b"link%d" % k)
        os.symlink(os.path.relpath(target, d), link)
        created.append(link)
    # excluded dir: the dir itself is an entry, its children are not
    snap = os.path.join(root, EXCLUDED.encode())
    os.mkdir(snap)
    created.append(snap)
    for k in range(50):
        os.close(os.open(os.path.join(snap, b"hidden%d" % k), os.O_CREAT | os.O_WRONLY, 0o644))
    # owners map over a handful of directories (deepest mapped ancestor wins)
    owned = rng.sample(dirs[1:], min(6, len(dirs) - 1))
    owners_path = os.path.join(base, "owners.txt")
    with open(owners_path, "w") as fh:
        for k, d in enumerate(owned):
            fh.write(f"owner{k % 3}={os.fsdecode(d)}\n")
    total_bytes = os.lstat(root).st_size + sum(os.lstat(p).st_size for p in created)
    return {
        "root": os.fsdecode(root),
        "owners": owners_path,
        "entries": 1 + len(created),
        "total_bytes": total_bytes,
    }
