"""Worker-side loading of the prescan dictionaries.

The Spark equivalent of the reference's prescanSave/prescanLoad boundary
(bin/wikiprep:482-512): pass 1 writes the dictionaries as a tagged parquet
table (distributed write, no driver roundtrip); every transform worker
side-loads it with pyarrow on first use and caches it per process — the
same "read-only shared table" architecture the reference built on
BerkeleyDB files + OS page cache.  On a cluster the path lives on the
shared filesystem / object store; in local mode it's a temp dir.
"""

from __future__ import annotations

import glob
import os

# path -> env of the current dictionary only: a reused python worker that
# moves on to another run's dictionaries frees the earlier ones first
_CACHE: dict = {}


def load_env_from_parquet(path: str):
    """Load (title2id, redir, template_bodies) dicts from the tagged
    dictionary parquet directory. Cached per worker process (the latest
    path only)."""
    if path in _CACHE:
        return _CACHE[path]
    _CACHE.clear()
    import pyarrow.parquet as pq

    t2i: dict = {}
    red: dict = {}
    bodies: dict = {}
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    for f in files:
        tbl = pq.read_table(f, columns=["kind", "k", "v"])
        for kind, k, v in zip(
            tbl.column("kind").to_pylist(),
            tbl.column("k").to_pylist(),
            tbl.column("v").to_pylist(),
        ):
            if kind == "t":
                t2i[k] = int(v)
            elif kind == "r":
                red[k] = v
            else:
                bodies[int(k)] = v
    env = (t2i, red, bodies)
    _CACHE[path] = env
    return env


def key_hash(key: str) -> int:
    """60-bit key hash shared between the Spark writer (md5 + conv, JVM
    expression in prescan.write_dicts_pruned) and the Python lookup side:
    int64 parquet statistics are exact (string min/max stats may be
    truncated), so pruning on the hash is always correct."""
    import hashlib

    return int(hashlib.md5(key.encode("utf-8")).hexdigest()[:15], 16)


class RowGroupPrunedDict:
    """Read-only mapping over a parquet directory globally sorted by key
    hash — the big-dict scale path (SURVEY.md §4): when title2id outgrows
    worker memory, workers stop materializing it and instead binary-search
    parquet row groups via exact int64 footer statistics, decoding only the
    groups they actually touch (LRU-cached).  Memory is bounded by
    cache_groups * rows_per_group regardless of dictionary size; hot keys
    (boilerplate titles, templates) stay cached, and on a cluster the OS
    page cache shares the column chunks across workers on a node — the
    same access pattern as the reference's BerkeleyDB-on-page-cache
    architecture (bin/wikiprep:482-512), re-expressed on parquet."""

    def __init__(self, path: str, cache_groups: int = 64):
        import pyarrow.parquet as pq

        self._pq = pq
        self._index = []  # (min_kh, max_kh, file, rg_idx), sorted
        for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
            pf = pq.ParquetFile(f)
            kh_idx = pf.schema_arrow.names.index("kh")
            for rg in range(pf.metadata.num_row_groups):
                st = pf.metadata.row_group(rg).column(kh_idx).statistics
                if st is None or st.min is None:
                    continue
                self._index.append((st.min, st.max, f, rg))
        self._index.sort()
        self._mins = [e[0] for e in self._index]
        self._cache: dict = {}  # (file, rg) -> (hashes, keys, values)
        self._cache_order: list = []
        self._cache_groups = cache_groups
        self._files: dict = {}

    def _load_group(self, f: str, rg: int):
        ck = (f, rg)
        hit = self._cache.get(ck)
        if hit is not None:
            return hit
        pf = self._files.get(f)
        if pf is None:
            pf = self._files[f] = self._pq.ParquetFile(f)
        tbl = pf.read_row_group(rg, columns=["kh", "k", "v"])
        entry = (
            tbl.column("kh").to_pylist(),
            tbl.column("k").to_pylist(),
            tbl.column("v").to_pylist(),
        )
        self._cache[ck] = entry
        self._cache_order.append(ck)
        if len(self._cache_order) > self._cache_groups:
            self._cache.pop(self._cache_order.pop(0), None)
        return entry

    def _scan(self, idx: int, kh: int, key: str):
        """Scan the equal-hash run starting in row group ``idx`` (runs can
        spill into following groups when a hash value sits on a boundary)."""
        import bisect

        while idx < len(self._index):
            mn, mx, f, rg = self._index[idx]
            if kh < mn:
                return None
            hashes, keys, values = self._load_group(f, rg)
            j = bisect.bisect_left(hashes, kh)
            while j < len(hashes) and hashes[j] == kh:
                if keys[j] == key:
                    return values[j]
                j += 1
            if j < len(hashes) or mx > kh:
                return None  # run ended inside this group
            idx += 1  # run may continue in the next group
        return None

    def get(self, key, default=None):
        import bisect

        if not self._index:
            return default
        kh = key_hash(key)
        i = bisect.bisect_right(self._mins, kh) - 1
        if i < 0:
            return default
        # an equal-hash run can straddle a row-group/file boundary BACKWARD
        # as well: bisect lands on the LAST group whose min <= kh, so when
        # the previous group's max reaches kh the run started earlier —
        # rewind to the first group of the run before scanning forward
        # (60-bit hash collisions are expected at the 10^9-key scale this
        # path exists for, and _scan only walks forward)
        while i > 0 and self._index[i - 1][1] >= kh:
            i -= 1
        v = self._scan(i, kh, key)
        return default if v is None else v

    def __contains__(self, key):
        return self.get(key) is not None

    def __getitem__(self, key):
        v = self.get(key)
        if v is None:
            raise KeyError(key)
        return v


def load_env_pruned(path: str):
    """Pruned-mode env: title2id and redir as RowGroupPrunedDict over the
    sorted per-kind directories; template bodies (small — Template-ns
    pages only) stay a plain in-memory dict."""
    if path in _CACHE:
        return _CACHE[path]
    _CACHE.clear()
    import pyarrow.parquet as pq

    t2i = RowGroupPrunedDict(os.path.join(path, "title2id"))
    red = RowGroupPrunedDict(os.path.join(path, "redir"))
    bodies: dict = {}
    for f in sorted(glob.glob(os.path.join(path, "templates", "*.parquet"))):
        tbl = pq.read_table(f, columns=["k", "v"])
        for k, v in zip(tbl.column("k").to_pylist(),
                        tbl.column("v").to_pylist()):
            bodies[int(k)] = v
    env = (t2i, red, bodies)
    _CACHE[path] = env
    return env
