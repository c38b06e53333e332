"""At-rest corruption detection (round-3 verdict stretch item #9).

Two layers, two failure classes:

- **parquet page CRC, verified at read** (session.py pins
  ``parquet.page.verify-checksum.enabled=true``; the driver-side read of
  small keyed selections passes ``page_checksum_verification`` to
  pyarrow): a flipped bit inside a
  published data file fails the SCAN loudly instead of folding garbage
  into query results.  This is the filesystem-independent layer — the
  lake publishes staged files via ``os.rename`` so Hadoop LocalFS ``.crc``
  sidecars never follow them, and object stores verify nothing on read.
- **manifest size audit** (``LakeTable.verify_files``): missing files,
  truncation, and whole-file swaps — detectable without reading data,
  from the byte sizes every manifest entry records at commit.

The reference has no at-rest integrity story at all (its HDFS writer
trusts the filesystem: hdfswriter/.../HdfsHelper.java); sha256 content
parity in this repo's tests only catches corruption at replay time.
"""

from __future__ import annotations

import glob
import os

import pytest

from datax_spark.lake import hashing
from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable
from pyspark.sql import types as T

PAYLOAD = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
)


def _mk(spark, loc, rows=50_000):
    t = LakeTable.create(
        spark, loc, schema=PAYLOAD, key_cols=["k"], num_buckets=4,
    )
    df = spark.range(rows).selectExpr(
        "id as k", "repeat(uuid(), 2) as v", "'insert' as op", "id as lsn")
    merge_into(t, df, op_col="op", order_col="lsn", mode="mor",
               auto_compact=None, keys_unique=True)
    return t


def _data_files(t):
    return sorted(glob.glob(os.path.join(t.data_dir, "b=*", "*.parquet")),
                  key=os.path.getsize, reverse=True)


def test_bit_flip_fails_scan_loudly(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "lk"))
    assert t.read().count() == 50_000  # clean read first

    f = _data_files(t)[0]
    size = os.path.getsize(f)
    assert size > 4096, "need a real data page to corrupt"
    with open(f, "r+b") as fh:  # flip 16 bytes mid-file: inside a page,
        fh.seek(size // 2)      # far from magic header and footer
        data = fh.read(16)
        fh.seek(size // 2)
        fh.write(bytes(b ^ 0xFF for b in data))

    with pytest.raises(Exception) as ei:
        t.read().selectExpr("sum(length(v))").collect()
    # fails as a read error (page CRC / decode), never silent garbage
    msg = str(ei.value)
    assert "FAILED_READ_FILE" in msg or "Checksum" in msg or "CRC" in msg

    # a full-key lookup into the flipped file's bucket is served on the
    # driver by pyarrow, which verifies the same page CRCs
    bucket = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
    key = next(k for k in range(1000)
               if hashing.bucket_of(k, "bigint", 4) == bucket)
    where = [("k", "=", key)]
    assert t.scan_plan(where=where)["path"] == "local"
    with pytest.raises(OSError, match="CRC checksum verification failed"):
        t.read(where=where).collect()

    # size unchanged by a bit flip — the metadata audit stays clean
    # (this is exactly why the read-time CRC layer must exist)
    assert t.verify_files() == []


def test_verify_files_flags_truncation_and_missing(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "lk2"), rows=20_000)
    assert t.verify_files() == []

    files = _data_files(t)
    victim, gone = files[0], files[1]
    size = os.path.getsize(victim)
    with open(victim, "r+b") as fh:
        fh.truncate(size - 128)
    os.remove(gone)

    findings = {f["path"]: f for f in t.verify_files()}
    rel_victim = os.path.relpath(victim, t.location)
    rel_gone = os.path.relpath(gone, t.location)
    assert findings[rel_victim]["problem"] == "size"
    assert findings[rel_victim]["expected"] == size
    assert findings[rel_victim]["actual"] == size - 128
    assert findings[rel_gone]["problem"] == "missing"
    assert len(findings) == 2
