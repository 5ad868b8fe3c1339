"""Reference outputs the benchmark checks every pass against.

Each oracle is independent of the Spark engine it checks:
  - derived edges: a plain-Python re-derivation of the K8 rules (latest
    commit per file, per-language import regexes, same-repo-first module
    resolution, weight = import statements), with vids computed by a Python
    xxHash64 that reproduces Spark's ``xxhash64(repo, path)``;
  - PageRank: ``pcd_spark.oracle.pagerank_numpy`` (dense numpy power
    iteration);
  - LPA: ``pcd_spark.oracle.lpa_numpy`` on monotone dense-remapped ids;
  - connected components and triangles: networkx;
  - cold PageRank superstep count: a numpy replay of the engine's stopping
    rule (stop after the first superstep with sum|delta| < tol).

Oracles are computed once per input, outside every timed region, and
cached on disk under a hash of the input.
"""

from __future__ import annotations

import hashlib
import os
import re
from collections import Counter

import networkx as nx
import numpy as np

from pcd_spark.oracle import lpa_numpy, pagerank_numpy

# ---------------------------------------------------------------------------
# xxHash64, as Spark's XXH64 computes it over UTF-8 bytes
# ---------------------------------------------------------------------------

_M = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxh64(data: bytes, seed: int) -> int:
    """Unsigned 64-bit XXH64 of `data` (the reference algorithm)."""
    n, i, seed = len(data), 0, seed & _M
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed, (seed - _P1) & _M]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i : i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, int.from_bytes(data[i : i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (int.from_bytes(data[i : i + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def spark_xxhash64(*strings: str) -> int:
    """Spark SQL ``xxhash64(c1, c2, ...)`` over string columns: seed 42,
    each column hashed with the previous hash as seed; a signed long."""
    h = 42
    for s in strings:
        h = xxh64(s.encode("utf-8"), h)
    return h - (1 << 64) if h >= 1 << 63 else h


# ---------------------------------------------------------------------------
# K8 corpus -> weighted import edges, re-derived in plain Python
# ---------------------------------------------------------------------------

_PY_FROM = re.compile(r"^from\s+([\w\.]+)\s+import", re.M | re.A)
_PY_IMPORT = re.compile(r"^import\s+([\w\.]+)", re.M | re.A)
_JS_REQUIRE = re.compile(r"require\('\./([\w/\.]+)'\)", re.A)
_EXT = re.compile(r"\.(py|js)$")


def _module(path: str) -> str:
    return _EXT.sub("", path).replace("/", ".")


def derive_corpus_edges(rows) -> dict:
    """rows: iterable of (repo, path, commit, lang, content).

    Returns {"files": {(repo, path): vid}, "edges": {(src, dst): weight}}:
    the latest commit per file wins (greatest commit id); a module resolves
    to the same repo's file when there is one, else to the smallest repo
    owning it; self-edges and unresolved imports are dropped."""
    latest: dict[tuple[str, str], tuple[str, str, str]] = {}
    for repo, path, commit, lang, content in rows:
        cur = latest.get((repo, path))
        if cur is None or commit > cur[0]:
            latest[(repo, path)] = (commit, lang, content)
    vids = {k: spark_xxhash64(*k) for k in latest}
    if len(set(vids.values())) != len(vids):
        raise RuntimeError("xxhash64 collision among corpus files")
    owners: dict[str, dict[str, int]] = {}
    for (repo, path), vid in vids.items():
        owners.setdefault(_module(path), {})[repo] = vid
    edges: Counter = Counter()
    for (repo, path), (_commit, lang, content) in latest.items():
        if lang == "python":
            mods = _PY_FROM.findall(content) + _PY_IMPORT.findall(content)
        else:
            mods = [_module(m) for m in _JS_REQUIRE.findall(content)]
        src = vids[(repo, path)]
        for m in mods:
            cand = owners.get(m)
            if not cand:
                continue
            dst = cand[repo] if repo in cand else cand[min(cand)]
            if dst != src:
                edges[(src, dst)] += 1
    return {"files": vids, "edges": dict(edges)}


# ---------------------------------------------------------------------------
# graph oracles
# ---------------------------------------------------------------------------


def _dense(src: np.ndarray, dst: np.ndarray):
    """Monotone dense remap of the vertex universe: (vids, src_i, dst_i)."""
    vids = np.unique(np.concatenate([src, dst]))
    return vids, np.searchsorted(vids, src), np.searchsorted(vids, dst)


def pagerank_oracle(src, dst, weights=None, damping=0.85) -> dict[int, float]:
    vids, s, d = _dense(src, dst)
    rank = pagerank_numpy(len(vids), np.stack([s, d], axis=1), damping=damping, tol=1e-15, weights=weights)
    return dict(zip(vids.tolist(), rank.tolist()))


def pagerank_cold_steps(src, dst, weights=None, damping=0.85, tol=1e-8, max_iter=200) -> int:
    """Supersteps a cold pcd_spark.pagerank run takes on this graph: the
    engine's update from rank 1/n, stopping after the first superstep whose
    sum|delta| is below tol (pagerank_numpy's own rule scales tol by n)."""
    vids, s, d = _dense(src, dst)
    n = len(vids)
    w = np.ones(len(s)) if weights is None else np.asarray(weights, dtype=float)
    out_s = np.zeros(n)
    np.add.at(out_s, s, w)
    dangling = out_s == 0.0
    p = w / out_s[s]
    x = np.full(n, 1.0 / n)
    for it in range(1, max_iter + 1):
        contrib = np.zeros(n)
        np.add.at(contrib, d, x[s] * p)
        x_new = (1.0 - damping) / n + damping * (contrib + x[dangling].sum() / n)
        if np.abs(x_new - x).sum() < tol:
            return it
        x = x_new
    return max_iter


def lpa_oracle(src, dst, max_iter: int) -> dict[int, int]:
    vids, s, d = _dense(src, dst)
    labels, _ = lpa_numpy(len(vids), np.stack([s, d], axis=1), max_iter=max_iter)
    return dict(zip(vids.tolist(), vids[labels].tolist()))


def _simple_graph(src, dst) -> nx.Graph:
    g = nx.Graph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    g.remove_edges_from(nx.selfloop_edges(g))
    return g


def cc_oracle(src, dst) -> dict[int, int]:
    out = {}
    for comp in nx.connected_components(_simple_graph(src, dst)):
        root = min(comp)
        out.update(dict.fromkeys(comp, root))
    return out


def triangles_oracle(src, dst) -> dict[int, int]:
    return nx.triangles(_simple_graph(src, dst))


def undirected_edge_count(src, dst) -> int:
    """|canonical undirected edges|: self-loops dropped, (min, max) pairs
    deduplicated — the LPA engine sends one message each way per pair."""
    keep = src != dst
    lo, hi = np.minimum(src[keep], dst[keep]), np.maximum(src[keep], dst[keep])
    return len(np.unique(np.stack([lo, hi], axis=1), axis=0))


# ---------------------------------------------------------------------------
# on-disk cache
# ---------------------------------------------------------------------------


def input_key(*arrays: np.ndarray, **params) -> str:
    h = hashlib.sha256(repr(sorted(params.items())).encode())
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()[:24]


def cached(cache_dir: str, key: str, compute) -> dict[str, np.ndarray]:
    """Load the arrays stored under `key`, or compute, store and return them.
    `compute` returns {name: np.ndarray}."""
    path = os.path.join(cache_dir, f"oracle-{key}.npz")
    if os.path.exists(path):
        with np.load(path, allow_pickle=False) as z:
            return {k: z[k] for k in z.files}
    arrays = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + f".{os.getpid()}.tmp.npz"
    np.savez(tmp, **arrays)
    os.replace(tmp, path)
    return arrays


def flatten(**maps: dict) -> dict[str, np.ndarray]:
    """{name: {vid: value}} -> arrays "<name>.k" / "<name>.v" for the cache."""
    out = {}
    for name, m in maps.items():
        keys = sorted(m)
        out[f"{name}.k"] = np.array(keys, dtype=np.int64)
        out[f"{name}.v"] = np.array([m[k] for k in keys])
    return out


def unflatten(arrays: dict[str, np.ndarray]) -> dict[str, dict]:
    names = {k.rsplit(".", 1)[0] for k in arrays}
    return {n: dict(zip(arrays[f"{n}.k"].tolist(), arrays[f"{n}.v"].tolist())) for n in names}
