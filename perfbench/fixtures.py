"""Seeded inputs for the benchmark: file trees with their manifest,
churn rounds over a tree, and catalog rows for the serving workload.

Everything here is plain Python/NumPy. The engine under test only ever
sees the files and rows these functions write, never the seed.

A tree's manifest is the ground truth the correctness checks compare
the engine's ``files`` table against: for every file its directory,
name, size, mtime and the sha256 of its content, plus a model of which
files the two-phase indexer must have hashed so far.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# mtimes are whole seconds, so stat() -> table round-trips exactly
MTIME_EPOCH = 1_704_067_200  # 2024-01-01 00:00:00 UTC
MTIME_SPAN_S = 500 * 86_400  # spans > 12 months (the timeline window)
CHURN_EPOCH = 1_751_328_000  # 2025-07-01: later than every generated mtime
EXTENSIONS = ("txt", "jpg", "log", "csv", "bin", "tar.gz", "JPG", "")
NOISE_BYTES = 1 << 20


@dataclass
class Entry:
    size: int
    mtime: int
    sha256: str
    hashed: bool = False  # does the table hold a checksum for it


@dataclass
class TreeSpec:
    files: int
    fanout: tuple[int, ...]  # directories per level; files live in the leaves
    min_size: int
    max_size: int
    dup_share: float = 0.20  # share of files copied from the duplicate pool
    pool_share: float = 0.04  # pool size as a share of files
    empty_share: float = 0.01


@dataclass
class Tree:
    """A generated tree on disk and its manifest, keyed by (dir, name)."""

    root: str
    seed: int
    spec: TreeSpec
    files: dict[tuple[str, str], Entry] = field(default_factory=dict)
    # rows of files deleted since the last cleanup: the table keeps them
    # (re-indexing leaves vanished files to cleanup), so phase 2 sees them
    stale: dict[tuple[str, str], Entry] = field(default_factory=dict)
    leaves: list[str] = field(default_factory=list)
    _noise: bytes = b""
    _pool: list[tuple[int, int]] = field(default_factory=list)  # (size, key)

    # -- content ---------------------------------------------------------
    def _content(self, key: str, size: int) -> bytes:
        """Unique bytes for ``key``: a key header over a slice of seeded
        noise (no two keys share content, so sha256 groups == key groups)."""
        if size == 0:
            return b""
        head = f"{self.seed}:{key}:".encode()
        body = size - len(head)
        if body <= 0:
            return head[:size]
        off = int.from_bytes(hashlib.blake2b(head, digest_size=4).digest(), "little")
        off %= len(self._noise) - body + 1
        return head + self._noise[off: off + body]

    def _write(self, d: str, name: str, key: str, size: int, mtime: int) -> None:
        data = self._content(key, size)
        path = os.path.join(d, name)
        with open(path, "wb") as fh:
            fh.write(data)
        os.utime(path, ns=(mtime * 1_000_000_000, mtime * 1_000_000_000))
        self.files[(d, name)] = Entry(size, mtime, hashlib.sha256(data).hexdigest())

    def _draw(self, rng: random.Random, key: str) -> tuple[str, int]:
        """(content key, size) for one new file: an empty file, a copy
        from the duplicate pool, or unique content of log-uniform size."""
        u = rng.random()
        if u < self.spec.empty_share:
            return key, 0
        if u < self.spec.empty_share + self.spec.dup_share:
            size, pool_key = rng.choice(self._pool)
            return f"pool{pool_key}", size
        return key, self._log_uniform(rng)

    def _log_uniform(self, rng: random.Random) -> int:
        lo, hi = math.log(self.spec.min_size), math.log(self.spec.max_size)
        return int(math.exp(rng.uniform(lo, hi)))

    @staticmethod
    def _name(rng: random.Random, stem: str) -> str:
        ext = rng.choice(EXTENSIONS)
        return f"{stem}.{ext}" if ext else stem

    # -- model -----------------------------------------------------------
    def reset_model(self) -> None:
        """The model for a fresh, empty table: nothing hashed, no stale rows."""
        for e in self.files.values():
            e.hashed = False
        self.stale.clear()

    def settle_checksums(self) -> tuple[list[tuple[str, str]], int]:
        """Apply phase 2 to the model. Phase 2 selects every non-empty
        size shared by >1 table row (stale rows included) with a row
        still unhashed, and hashes each unhashed row of those sizes; a
        stale row's file is gone, so its checksum stays NULL.
        Returns (live files newly hashed, rows phase 2 attempts)."""
        rows = [(k, e, False) for k, e in self.files.items()]
        rows += [(k, e, True) for k, e in self.stale.items()]
        by_size: dict[int, list] = {}
        for row in rows:
            if row[1].size > 0:
                by_size.setdefault(row[1].size, []).append(row)
        newly, attempted = [], 0
        for group in by_size.values():
            if len(group) < 2 or all(e.hashed for _, e, _ in group):
                continue
            for k, e, is_stale in group:
                if not e.hashed:
                    attempted += 1
                    if not is_stale:
                        e.hashed = True
                        newly.append(k)
        return newly, attempted

    def manifest_hash(self) -> str:
        h = hashlib.sha256()
        for (d, n), e in sorted(self.files.items()):
            rel = os.path.relpath(os.path.join(d, n), self.root)
            h.update(f"{rel}\0{e.size}\0{e.mtime}\0{e.sha256}\n".encode())
        return h.hexdigest()

    def total_bytes(self) -> int:
        return sum(e.size for e in self.files.values())

    def dirs(self) -> set[str]:
        return {d for d, _ in self.files}

    # -- churn -----------------------------------------------------------
    def churn(self, round_no: int, modify: float = 0.02, add: float = 0.005,
              delete: float = 0.005) -> dict[str, int]:
        """One seeded round: rewrite ``modify`` of the files (new mtime,
        half keep their size), add ``add`` (one new leaf directory plus
        existing ones) and delete ``delete`` including one whole leaf
        directory. Returns what changed, by kind."""
        rng = random.Random(f"{self.seed}:churn:{round_no}")
        n = len(self.files)
        keys = sorted(self.files)
        mtime = CHURN_EPOCH + round_no * 10_000

        victim = rng.choice(sorted({d for d, _ in keys}))
        gone = [k for k in keys if k[0] == victim]
        shutil.rmtree(victim)
        self.leaves.remove(victim)
        alive = [k for k in keys if k[0] != victim]
        extra = max(0, int(n * delete) - len(gone))
        for k in rng.sample(alive, min(extra, len(alive))):
            os.remove(os.path.join(*k))
            gone.append(k)
        for k in gone:
            self.stale[k] = self.files.pop(k)

        survivors = sorted(self.files)
        modified = rng.sample(survivors, int(n * modify))
        for i, (d, name) in enumerate(modified):
            old = self.files[(d, name)]
            size = old.size if i % 2 == 0 and old.size > 0 else self._log_uniform(rng)
            self._write(d, name, f"m{round_no}:{i}", size, mtime + i)

        parent = os.path.dirname(rng.choice(self.leaves))
        fresh = os.path.join(parent, f"r{round_no}")
        os.makedirs(fresh)
        self.leaves.append(fresh)
        n_add = max(1, int(n * add))
        for i in range(n_add):
            d = fresh if i < n_add // 4 + 1 else rng.choice(self.leaves)
            key, size = self._draw(rng, f"a{round_no}:{i}")
            name = self._name(rng, f"n{round_no}_{i:05d}")
            self._write(d, name, key, size, mtime + 5_000 + i)
        return {"deleted": len(gone), "modified": len(modified), "added": n_add}


def make_tree(root: str, seed: int, spec: TreeSpec) -> Tree:
    """Write a seeded tree under ``root`` (which must not exist)."""
    if spec.max_size > NOISE_BYTES:
        raise ValueError(f"max_size above {NOISE_BYTES} bytes")
    rng = random.Random(f"{seed}:tree")
    tree = Tree(root=os.path.abspath(root), seed=seed, spec=spec)
    tree._noise = rng.randbytes(NOISE_BYTES)
    n_pool = max(2, int(spec.files * spec.pool_share))
    tree._pool = [(tree._log_uniform(rng), j) for j in range(n_pool)]

    level = [tree.root]
    for depth, width in enumerate(spec.fanout):
        level = [os.path.join(p, f"d{depth}_{i}") for p in level for i in range(width)]
    tree.leaves = level
    for d in level:
        os.makedirs(d)
    for i in range(spec.files):
        key, size = tree._draw(rng, f"u{i}")
        d = rng.choice(level)
        name = tree._name(rng, f"f{i:06d}")
        tree._write(d, name, key, size, MTIME_EPOCH + rng.randrange(MTIME_SPAN_S))
    return tree


# -- catalog rows (serving workload) ---------------------------------------

def catalog_frame(seed: int, rows: int) -> pd.DataFrame:
    """A seeded ``files`` snapshot: 1000 directories, mixed extensions,
    2% empty files, sizes log-uniform up to 4 GB (every histogram band),
    20% of rows copies of a duplicate pool (same checksum => same size),
    40% other checksummed rows and 40% NULL checksums."""
    rng = np.random.default_rng(seed)
    idx = np.arange(rows)
    top = rng.integers(0, 20, rows)
    sub = rng.integers(0, 50, rows)
    path = [f"/data/p{a:02d}/q{b:03d}" for a, b in zip(top, sub)]
    ext = rng.choice(np.array(EXTENSIONS, dtype=object), rows)
    filename = [f"f{i:07d}.{e}" if e else f"f{i:07d}" for i, e in zip(idx, ext)]
    size = np.exp(rng.uniform(0.0, math.log(4e9), rows)).astype(np.int64)
    size[rng.random(rows) < 0.02] = 0

    kind = rng.random(rows)
    n_pool = max(2, rows // 25)
    pool_id = rng.integers(0, n_pool, rows)
    pool_size = np.exp(rng.uniform(math.log(1024), math.log(1e8), n_pool)).astype(np.int64)
    dup = kind < 0.20
    size[dup] = pool_size[pool_id[dup]]
    checksum = np.empty(rows, dtype=object)
    checksum[:] = None
    tag = f"{seed & 0xFFFFFFFF:08x}"
    checksum[dup] = [f"{tag}0{p:055x}" for p in pool_id[dup]]
    uniq = (kind >= 0.20) & (kind < 0.60) & (size > 0)
    checksum[uniq] = [f"{tag}1{i:055x}" for i in idx[uniq]]

    mtime = MTIME_EPOCH + rng.integers(0, MTIME_SPAN_S, rows)
    return pd.DataFrame({
        "path": path,
        "filename": filename,
        "checksum": checksum,
        "modification_datetime": pd.to_datetime(mtime, unit="s", utc=True),
        "file_size": size,
        "indexed_at": pd.Timestamp("2025-06-01", tz="UTC"),
    })
