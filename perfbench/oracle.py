"""Correctness oracle: a pure-Python last-LSN-wins fold of the generated
feed, and the order-independent row checksum the engine's tables are
compared against.

The checksum of a row is the first 60 bits of
``sha256(repo | path | commit | lang | sha256(content))`` (``|`` = 0x1f);
a table's checksum is the exact sum of its row checksums.  Spark computes
the same sum as a DECIMAL aggregate (``spark_checksum``): Spark 4 runs in
ANSI mode, where a 64-bit integer sum of hashes overflows and fails.
"""

from __future__ import annotations

import hashlib

import pyarrow as pa

SEP = "\x1f"


def row_hash(repo: str, path: str, commit: str, lang, content) -> int:
    c = hashlib.sha256((content or "").encode()).hexdigest()
    s = SEP.join((repo, path, commit, lang or "", c))
    return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)


class Fold:
    """Expected table state: key -> (lang, content), last LSN wins."""

    def __init__(self):
        self.state: dict[tuple, tuple] = {}

    def load(self, rows: pa.Table) -> None:
        d = rows.to_pydict()
        for r, p, c, lang, content in zip(d["repo"], d["path"], d["commit"],
                                          d["lang"], d["content"]):
            self.state[(r, p, c)] = (lang, content)

    def apply(self, events: pa.Table) -> None:
        """Fold envelope ``events``; they must be in LSN order."""
        d = events.to_pydict()
        state = self.state
        for op, r, p, c, lang, content in zip(d["op"], d["repo"], d["path"],
                                              d["commit"], d["lang"],
                                              d["content"]):
            if op == "delete":
                state.pop((r, p, c), None)
            else:
                state[(r, p, c)] = (lang, content)

    def checksum(self) -> tuple[int, int]:
        """(row count, exact checksum sum) of the expected state."""
        total = 0
        for (r, p, c), (lang, content) in self.state.items():
            total += row_hash(r, p, c, lang, content)
        return len(self.state), total

    def lang_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for lang, _ in self.state.values():
            out[lang] = out.get(lang, 0) + 1
        return out


def spark_row_hash(cols: list[str]):
    """Column expression equal to ``row_hash`` over ``cols`` (key, lang,
    content), cast to DECIMAL so sums cannot overflow."""
    from pyspark.sql import functions as F

    repo, path, commit, lang, content = (F.coalesce(F.col(c), F.lit(""))
                                         for c in cols)
    s = F.concat_ws(SEP, repo, path, commit, lang, F.sha2(content, 256))
    return F.conv(F.substring(F.sha2(s, 256), 1, 15), 16, 10).cast(
        "decimal(20,0)")


def spark_checksum(df, cols=("repo", "path", "commit", "lang", "content")
                   ) -> tuple[int, int]:
    """(row count, checksum sum) of a DataFrame in one Spark job."""
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(spark_row_hash(list(cols))).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)
