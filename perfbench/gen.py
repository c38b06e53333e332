"""Seeded inputs for the benchmark, built with numpy and pyarrow only.

The engine never sees this module: it reads the parquet and JSON files
written here, exactly as it would read a connector's output.  Keeping the
generator out of ``datax_spark.fixtures`` means an edit to the engine's
test fixtures cannot move a benchmark result.

Rows follow the engine's repository table ``(repo, path, commit, lang,
content)`` keyed by ``(repo, path, commit)``.  The traffic follows the
repository's documented feed model (FIXTURES.md sections 1 and 2, as
``datax_spark.fixtures`` implements it):

- a key id ``k`` maps to one key tuple for a given seed; the repo index is
  ``floor(N_REPOS * u**3)`` for a per-key uniform ``u``, the hot-repo skew
  of ``fixtures._key_cols``;
- content is pseudo-source text of ``U(0.25, 1.75) x 256`` characters, the
  fixtures' default length;
- LSNs strictly increase; each event's key id is drawn uniformly from a
  fixed key universe (the snapshot's keys plus one new key per three
  events, the fixtures' ``n_keys = n_events // 3``), and its op is drawn
  independently of the key: 70% insert, 25% update, 5% delete.  So one
  micro-batch touches some keys more than once, deleted keys are
  re-inserted, updates reach already-deleted keys (late events; MERGE
  upserts them) and deletes reach keys that are not there;
- the shard is a hash of the key id modulo 8, as in the fixtures.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["python", "java", "go", "rust", "js", "md", "yaml", "other"]
EXTS = ["py", "java", "go", "rs", "js", "md", "yaml", "txt"]
N_REPOS = 400
N_SHARDS = 8
BASE_TS_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z
ENVELOPE = pa.schema([
    ("lsn", pa.int64()),
    ("shard", pa.int32()),
    ("ts", pa.timestamp("us", tz="UTC")),
    ("op", pa.string()),
    ("repo", pa.string()),
    ("path", pa.string()),
    ("commit", pa.string()),
    ("lang", pa.string()),
    ("content", pa.string()),
])
ROW = pa.schema([(n, pa.string()) for n in
                 ("repo", "path", "commit", "lang", "content")])


class Keyspace:
    """Deterministic key id -> (repo, path, commit, lang) for one seed;
    ids at or above the feed's key universe are never generated, so they
    serve as absent lookup keys."""

    def __init__(self, seed: int):
        self.seed = seed
        self._salt = f"s{seed}:"

    def keys(self, k: np.ndarray) -> tuple[list, list, list, list]:
        repo_idx = np.floor(N_REPOS * _unit(k, self.seed, 1) ** 3
                            ).astype(np.int64)
        depth = (_unit(k, self.seed, 2) * 4).astype(np.int64) + 1
        ext = (_unit(k, self.seed, 3) * len(EXTS)).astype(np.int64)
        lang = (_unit(k, self.seed, 4) * len(LANGS)).astype(np.int64)
        repos, paths, commits, langs = [], [], [], []
        for i, kid in enumerate(k.tolist()):
            r = int(repo_idx[i])
            h = hashlib.blake2b(f"{self._salt}{kid}".encode(),
                                digest_size=20).hexdigest()
            repos.append(f"org{r % 53}/repo{r}")
            paths.append("src/" + "d/" * int(depth[i]) + f"f_{h[:8]}."
                         + EXTS[int(ext[i])])
            commits.append(h)
            langs.append(LANGS[int(lang[i])])
        return repos, paths, commits, langs


def _unit(k: np.ndarray, seed: int, stream: int) -> np.ndarray:
    """Uniform [0, 1) per key id, stable for (seed, stream, id)."""
    x = (k.astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)
         + np.uint64((seed * 1_000_003 + stream * 7919) & 0xFFFFFFFF))
    x ^= x >> np.uint64(31)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(29)
    return (x >> np.uint64(11)).astype(np.float64) / float(1 << 53)


class ContentPool:
    """Variable-length pseudo-source text cut from one seeded random pool."""

    def __init__(self, rng: np.random.Generator, avg_len: int = 256):
        alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz  \n(){}=_.,:",
                                 dtype=np.uint8)
        self.pool = alphabet[rng.integers(0, len(alphabet), 1 << 20)
                             ].tobytes().decode("ascii")
        self.rng = rng
        self.avg = avg_len

    def take(self, n: int) -> list[str]:
        lens = self.rng.integers(self.avg // 4, self.avg * 7 // 4, n)
        offs = self.rng.integers(0, len(self.pool) - self.avg * 2, n)
        p = self.pool
        return [p[o:o + ln] for o, ln in zip(offs.tolist(), lens.tolist())]


class FeedState:
    """Generates a snapshot and then feed events in LSN order over a key
    universe of ``n_keys`` ids: the snapshot holds ids ``0..n_rows-1``,
    events draw from ``0..n_keys-1``.  The expected final table is NOT
    derived here but by the independent fold in ``oracle.py``."""

    def __init__(self, seed: int, n_keys: int, stream: int = 0):
        self.keyspace = Keyspace(seed)
        self.rng = np.random.default_rng([seed, stream])
        self.content = ContentPool(self.rng)
        self.n_keys = n_keys
        self.next_lsn = 1

    def snapshot(self, n_rows: int) -> pa.Table:
        ids = np.arange(n_rows, dtype=np.int64)
        repos, paths, commits, langs = self.keyspace.keys(ids)
        return pa.Table.from_arrays(
            [pa.array(repos), pa.array(paths), pa.array(commits),
             pa.array(langs), pa.array(self.content.take(n_rows))],
            schema=ROW)

    def events(self, n: int) -> pa.Table:
        """``n`` envelope events with LSNs continuing from the last call."""
        kids = self.rng.integers(0, self.n_keys, n, dtype=np.int64)
        ops = np.array(["insert", "update", "delete"])[
            self.rng.choice(3, size=n, p=[0.70, 0.25, 0.05])]
        repos, paths, commits, langs = self.keyspace.keys(kids)
        contents = self.content.take(n)
        is_del = (ops == "delete").tolist()
        lsn = np.arange(self.next_lsn, self.next_lsn + n, dtype=np.int64)
        self.next_lsn += n
        shard = (_unit(kids, self.keyspace.seed, 5) * N_SHARDS
                 ).astype(np.int32)
        ts = (BASE_TS_MS + lsn) * 1000
        return pa.Table.from_arrays(
            [pa.array(lsn), pa.array(shard),
             pa.array(ts, type=pa.timestamp("us", tz="UTC")),
             pa.array(ops.tolist()), pa.array(repos), pa.array(paths),
             pa.array(commits),
             pa.array([None if d else x for d, x in zip(is_del, langs)],
                      type=pa.string()),
             pa.array([None if d else x for d, x in zip(is_del, contents)],
                      type=pa.string())],
            schema=ENVELOPE)


def write_parquet(table: pa.Table, path: str, rows_per_file: int) -> None:
    """Write ``table`` as consecutively numbered parquet part files."""
    os.makedirs(path, exist_ok=True)
    for i, off in enumerate(range(0, table.num_rows, rows_per_file)):
        pq.write_table(table.slice(off, rows_per_file),
                       os.path.join(path, f"part-{i:05d}.parquet"))


_DBZ_OP = {"insert": "c", "update": "u", "delete": "d"}


def debezium_lines(events: pa.Table) -> str:
    """Debezium JSON-lines value records for envelope ``events``."""
    cols = events.to_pydict()
    out = []
    for i in range(events.num_rows):
        row = {c: cols[c][i] for c in ("repo", "path", "commit", "lang",
                                        "content")}
        op = cols["op"][i]
        lsn = cols["lsn"][i]
        ts_ms = BASE_TS_MS + lsn
        rec = {
            "op": _DBZ_OP[op],
            "before": row if op == "delete" else None,
            "after": None if op == "delete" else row,
            "source": {"lsn": lsn, "ts_ms": ts_ms, "db": "src",
                       "table": "files"},
            "ts_ms": ts_ms,
        }
        out.append(json.dumps(rec, separators=(",", ":")))
    return "\n".join(out) + "\n"
