"""Expected outputs the benchmark checks the program against.

- ``exact_topk``: brute-force L2 top-k in numpy with the same
  arithmetic as the engine's ``squared_l2`` (float32 vectors widened to
  double, squared differences summed in index order, then sqrt), ties
  broken by id, so distances agree bit for bit.
- ``result_digest``: row count and order-insensitive value hash of a
  query result, with numbers canonicalised so Spark and DuckDB types
  (Decimal/float/int) hash alike.
- ``OracleCache``: registry DuckDB oracle digests, computed once per
  checkout and keyed by oracle SQL and input-file contents.
"""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os

import numpy as np


def exact_topk(
    ids: np.ndarray, vectors: np.ndarray, probe, k: int
) -> tuple[np.ndarray, np.ndarray]:
    q = np.asarray(probe, dtype=np.float64)
    x = vectors.astype(np.float64)
    acc = np.zeros(len(ids), dtype=np.float64)
    for j in range(x.shape[1]):
        diff = x[:, j] - q[j]
        acc = acc + diff * diff
    dist = np.sqrt(acc)
    order = np.lexsort((ids, dist))[:k]
    return ids[order], dist[order]


def _canon(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if isinstance(v, (int, np.integer)) and abs(int(v)) >= 2**53:
            return int(v)
        f = round(f, 9)
        return int(f) if f.is_integer() and abs(f) < 2**53 else f
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _canon(v.asDict())
    return str(v)


def result_digest(columns: list[str], rows) -> dict:
    """{rows, hash} over the rows with columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    h.update(repr(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(lines), "hash": h.hexdigest()}


def _files_digest(data_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        h.update(name.encode())
        with open(os.path.join(data_dir, name), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


class OracleCache:
    TABLES = (
        "region nation customer supplier part orders lineitem documents embeddings"
    ).split()

    def __init__(self, data_dir: str, cache_path: str):
        self.data_dir = data_dir
        self.path = cache_path
        self._data_key = _files_digest(data_dir)
        try:
            with open(cache_path) as fh:
                self._cache = json.load(fh)
        except (OSError, ValueError):
            self._cache = {}
        self._con = None

    def expected(self, name: str, sql: str) -> dict:
        key = hashlib.sha256((self._data_key + sql).encode()).hexdigest()
        hit = self._cache.get(name)
        if hit is None or hit["key"] != key:
            hit = {"key": key, **self._run(sql)}
            self._cache[name] = hit
            tmp = self.path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(self._cache, fh, indent=1, sort_keys=True)
            os.replace(tmp, self.path)
        return {"rows": hit["rows"], "hash": hit["hash"]}

    def _run(self, sql: str) -> dict:
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in self.TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data_dir, t)}.parquet'"
                )
        cur = self._con.execute(sql)
        cols = [d[0] for d in cur.description]
        return result_digest(cols, cur.fetchall())

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
