"""Driver-side keyed reads (``LakeTable.read``'s local path).

A key lookup — ``=``/``in`` conjuncts pinning every key column — whose
kept selection is small is served by pyarrow on the driver and handed to
Spark as a local relation; every other ``where`` read scans with Spark.
The contract is the one every filtered read has: ``read(where=p)`` equals
``read().filter(p)``, and the no-``where`` read always scans with Spark,
so it is the reference.  Histories are hypothesis-generated: tombstones,
delete-then-reinsert, NULL keys, L0 and bucketed deltas, an added column,
int→long widening, bigint→double widening over values past 2**53, and dv
/ partial-update (pdelta) selections, which must fall back to the Spark
scan and still agree.
"""

from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LOCAL_READ_MAX_FILES, LakeTable

SCHEMA = T.StructType([
    T.StructField("k", T.LongType()),
    T.StructField("s", T.StringType()),
    T.StructField("v", T.StringType()),
    T.StructField("n", T.IntegerType()),
    T.StructField("w", T.LongType()),
])
BIG = (1 << 53) + 1  # odd past 2**53: a double cannot hold it exactly
KEY = st.tuples(st.sampled_from([None, 0, 1, 2, 3, 4, 5]),
                st.sampled_from([None, "a", "b"]))
EVENT = st.tuples(st.sampled_from(["insert", "update", "delete"]), KEY,
                  st.sampled_from([None, "m", "x", "z"]), st.integers(-3, 3))


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _col(preds):
    """The conjunction as a Column, written independently of the engine."""
    out = None
    for c, op, v in preds:
        e = {"=": lambda: F.col(c) == F.lit(v),
             ">": lambda: F.col(c) > F.lit(v),
             ">=": lambda: F.col(c) >= F.lit(v),
             "in": lambda: F.col(c).isin(list(v))}[op]()
        out = e if out is None else out & e
    return out


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def _mk(spark, loc, base):
    t = LakeTable.create(spark, loc, schema=SCHEMA, key_cols=["k", "s"],
                         bucket_col="k", num_buckets=4)
    if base:
        t.overwrite(spark.createDataFrame(
            [(k, s, v, i, BIG + 2 * i)
             for i, ((k, s), v) in enumerate(base.items())],
            SCHEMA))
    return t


def _merge(t, events, lsn0, mode, bucketed, evolve):
    spark = t.spark
    n_type = "long" if evolve == "widen" else "int"
    w_type = "double" if evolve == "double" else "long"
    extra = ", x string" if evolve == "add" else ""
    rows = [(k, s, v, n,
             i + 0.5 if evolve == "double" else BIG + 2 * (lsn0 + i),
             *(["y"] if evolve == "add" else []), op, lsn0 + i)
            for i, (op, (k, s), v, n) in enumerate(events)]
    df = spark.createDataFrame(
        rows, f"k long, s string, v string, n {n_type}, w {w_type}{extra}, "
              "op string, lsn long")
    kw = {"bucket_deltas": bucketed} if mode == "mor" else {}
    merge_into(t, df, op_col="op", order_col="lsn",
               mode="dv" if mode == "dv" else "mor", auto_compact=None,
               partial_update=(mode == "partial"), **kw)


def _check(t, ref, where) -> dict:
    """read(where) == read().filter(where); a local read runs no job."""
    plan = t.scan_plan(where=where)
    j0 = _jobs(t.spark)
    got = _rows(t.read(where=where))
    if plan["path"] == "local":
        assert _jobs(t.spark) == j0, where
    assert got == _rows(ref.filter(_col(where))), (where, plan)
    return plan


@given(
    base=st.dictionaries(KEY, st.sampled_from(["m", "x"]), max_size=6),
    batches=st.lists(
        st.tuples(st.lists(EVENT, min_size=1, max_size=6), st.booleans()),
        min_size=1, max_size=2),
    mode=st.sampled_from(["mor", "mor", "dv", "partial"]),
    evolve=st.sampled_from([None, "add", "widen", "double"]),
    probe=KEY,
)
# always run: a small MOR table whose full-key lookups must take 0 jobs
@example(
    base={(1, "a"): "m", (2, "b"): "x", (None, "a"): "m", (5, "a"): "x"},
    batches=[
        ([("update", (1, "a"), "z", 1), ("delete", (2, "b"), None, 0),
          ("insert", (None, "b"), "x", 2)], False),
        ([("update", (1, "a"), "y", 1), ("insert", (2, "b"), "m", 3)], True),
    ],
    mode="mor", evolve="double", probe=(1, "a"),
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
def test_local_read_equals_spark_filter(
    spark, tmp_path_factory, base, batches, mode, evolve, probe
):
    t = _mk(spark, str(tmp_path_factory.mktemp("lr") / "t"), base)
    for i, (events, bucketed) in enumerate(batches):
        last = i == len(batches) - 1
        _merge(t, events, 100 * i, mode, bucketed,
               evolve if last and mode == "mor" else None)
    kinds = {e[2] for es in t.manifest().files.values() for e in es
             if len(e) > 2}
    # the Spark scan of the whole table, materialized once
    full = t.read()
    ref = spark.createDataFrame(full.collect(), full.schema)
    k, s = probe
    lookups = [_check(t, ref, where) for where in (
        [("k", "=", k), ("s", "=", s)],             # full key (NULL too)
        [("k", "in", [k, None, 3]), ("s", "in", ["a", None])],
        [("k", "in", [0, 1, 2, 3, 4, 5]), ("s", "in", ["a", "b"]),
         ("v", ">", "m")],                          # non-key residual
    )]
    # reads that pin only part of the key stay on the Spark scan
    others = [t.scan_plan(where=where) for where in (
        [("s", "=", "b")],
        [("k", "in", [0, 1, 2]), ("v", ">", "m")],
    )]
    assert all(p["fallback"] == "not a key lookup" for p in others), others
    for p in lookups:
        assert p["path"] == "local" or p["fallback"] in (
            "deletion vectors", "partial-update deltas"), p
    if not kinds & {"dv", "pdelta"}:
        assert all(p["path"] == "local" for p in lookups), lookups


def test_selection_over_file_cap_scans_with_spark(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), schema=SCHEMA,
                         key_cols=["k", "s"], bucket_col="k",
                         num_buckets=LOCAL_READ_MAX_FILES + 8)
    t.overwrite(spark.range(2000).selectExpr(
        "id as k", "'a' as s", "cast(id % 7 as string) as v",
        "cast(id % 5 as int) as n", "id as w"))
    keys = list(range(0, 2000, 7))
    where = [("k", "in", keys), ("s", "=", "a"), ("n", "=", 3)]
    plan = t.scan_plan(where=where)
    assert plan["files_kept"] > LOCAL_READ_MAX_FILES
    assert plan["path"] == "spark" and "files" in plan["fallback"]
    j0 = _jobs(spark)
    got = _rows(t.read(where=where))
    assert _jobs(spark) - j0 >= 1
    assert got == _rows(t.read().filter(_col(where)))
    assert sum(got.values()) == len([i for i in keys if i % 5 == 3])
