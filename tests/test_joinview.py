"""Incremental equi-join views (lake/joinview.py).

Contract under test: after every refresh, the view row-for-row equals the
one-shot join of the two CURRENT upstream snapshots (inner and left),
under fact updates/deletes, dim updates/deletes, foreign-key rewires,
and changes on both sides in one refresh; watermarks advance atomically
with the merge and a re-run of a completed refresh is a no-op.
"""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.lake.joinview import (
    L_WATERMARK_PROP,
    R_WATERMARK_PROP,
    create_join_view,
    join_view_lag,
    refresh_join_view,
)
from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable

FACT_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("fk", T.LongType()),
        T.StructField("amt", T.LongType()),
    ]
)
DIM_SCHEMA = T.StructType(
    [
        T.StructField("dk", T.LongType()),
        T.StructField("seg", T.StringType()),
    ]
)


def _mk(spark, tmp_path):
    fact = LakeTable.create(
        spark, str(tmp_path / "fact"), schema=FACT_SCHEMA, key_cols=["k"],
        bucket_col="k", num_buckets=4,
    )
    dim = LakeTable.create(
        spark, str(tmp_path / "dim"), schema=DIM_SCHEMA, key_cols=["dk"],
        bucket_col="dk", num_buckets=4,
    )
    return fact, dim


def _merge_fact(t, rows, lsn0):
    df = t.spark.createDataFrame(
        [Row(k=k, fk=fk, amt=a, op=op, lsn=lsn0 + i)
         for i, (k, fk, a, op) in enumerate(rows)],
        schema="k long, fk long, amt long, op string, lsn long",
    )
    merge_into(t, df, op_col="op", order_col="lsn", mode="mor",
               auto_compact=None)


def _merge_dim(t, rows, lsn0):
    df = t.spark.createDataFrame(
        [Row(dk=dk, seg=s, op=op, lsn=lsn0 + i)
         for i, (dk, s, op) in enumerate(rows)],
        schema="dk long, seg string, op string, lsn long",
    )
    merge_into(t, df, op_col="op", order_col="lsn", mode="mor",
               auto_compact=None)


def _expected(fact, dim, how):
    f, d = fact.read(), dim.read().withColumnRenamed("dk", "__dk")
    out = f.join(d, f["fk"] == F.col("__dk"), how).select("k", "fk", "amt",
                                                          "seg")
    return sorted(
        (r["k"], r["fk"], r["amt"], r["seg"]) for r in out.collect()
    )


def _state(view):
    return sorted(
        (r["k"], r["fk"], r["amt"], r["seg"])
        for r in view.read().collect()
    )


@pytest.mark.parametrize("how", ["inner", "left"])
def test_bootstrap_equals_one_shot_join(spark, tmp_path, how):
    fact, dim = _mk(spark, tmp_path)
    _merge_dim(dim, [(1, "A", "insert"), (2, "B", "insert")], lsn0=0)
    _merge_fact(
        fact,
        [(10, 1, 100, "insert"), (11, 2, 200, "insert"),
         (12, 99, 300, "insert"), (13, None, 400, "insert")],
        lsn0=0,
    )
    view = create_join_view(
        fact, dim, str(tmp_path / "v"), on={"fk": "dk"}, how=how,
        num_buckets=2,
    )
    assert _state(view) == _expected(fact, dim, how)
    props = view.manifest().properties
    assert int(props[L_WATERMARK_PROP]) == fact.current_version()
    assert int(props[R_WATERMARK_PROP]) == dim.current_version()


@pytest.mark.parametrize("how", ["inner", "left"])
def test_incremental_tracks_both_sides(spark, tmp_path, how):
    fact, dim = _mk(spark, tmp_path)
    _merge_dim(dim, [(1, "A", "insert"), (2, "B", "insert"),
                     (3, "C", "insert")], lsn0=0)
    _merge_fact(
        fact,
        [(10, 1, 100, "insert"), (11, 2, 200, "insert"),
         (12, 3, 300, "insert"), (13, 1, 400, "insert")],
        lsn0=0,
    )
    view = create_join_view(
        fact, dim, str(tmp_path / "v"), on={"fk": "dk"}, how=how,
        num_buckets=2,
    )

    # fact-side churn: amount update, fk rewire, delete, fresh insert
    _merge_fact(
        fact,
        [(10, 1, 101, "insert"), (11, 3, 200, "insert"),
         (12, 3, 0, "delete"), (14, 2, 500, "insert")],
        lsn0=100,
    )
    out = refresh_join_view(fact, dim, view)
    assert out["applied"]
    assert _state(view) == _expected(fact, dim, how)

    # dim-side churn: seg update + dim delete (orphans fact rows)
    _merge_dim(dim, [(1, "A2", "insert"), (2, "B", "delete")], lsn0=100)
    out = refresh_join_view(fact, dim, view)
    assert out["applied"]
    assert _state(view) == _expected(fact, dim, how)

    # both sides in ONE refresh: re-point 14 to a key the dim batch
    # simultaneously deletes, resurrect dim 2
    _merge_fact(fact, [(14, 3, 501, "insert")], lsn0=200)
    _merge_dim(dim, [(3, "C", "delete"), (2, "B3", "insert")], lsn0=200)
    out = refresh_join_view(fact, dim, view)
    assert out["applied"]
    assert _state(view) == _expected(fact, dim, how)


def test_refresh_replay_is_noop(spark, tmp_path):
    fact, dim = _mk(spark, tmp_path)
    _merge_dim(dim, [(1, "A", "insert")], lsn0=0)
    _merge_fact(fact, [(10, 1, 100, "insert")], lsn0=0)
    view = create_join_view(fact, dim, str(tmp_path / "v"), on={"fk": "dk"},
                            num_buckets=2)
    _merge_fact(fact, [(10, 1, 101, "insert")], lsn0=10)
    out = refresh_join_view(fact, dim, view)
    assert out["applied"]
    v = view.current_version()
    # nothing new on either side → no-op, no commit
    out2 = refresh_join_view(fact, dim, view)
    assert not out2["applied"]
    assert view.current_version() == v
    assert _state(view) == _expected(fact, dim, "inner")


def test_dim_only_change_touches_only_affected_keys(spark, tmp_path):
    fact, dim = _mk(spark, tmp_path)
    _merge_dim(dim, [(d, f"s{d}", "insert") for d in range(1, 6)], lsn0=0)
    _merge_fact(
        fact,
        [(k, (k % 5) + 1, k * 10, "insert") for k in range(100)],
        lsn0=0,
    )
    view = create_join_view(fact, dim, str(tmp_path / "v"), on={"fk": "dk"},
                            num_buckets=2)
    _merge_dim(dim, [(3, "s3x", "insert")], lsn0=100)
    out = refresh_join_view(fact, dim, view)
    assert out["applied"]
    # only the 20 fact rows pointing at dim key 3 were recomputed
    assert out["affected"] == 20
    assert out["pushdown"]
    assert _state(view) == _expected(fact, dim, "inner")


def test_watermark_only_advance_without_affected_rows(spark, tmp_path):
    fact, dim = _mk(spark, tmp_path)
    _merge_dim(dim, [(1, "A", "insert")], lsn0=0)
    _merge_fact(fact, [(10, 1, 100, "insert")], lsn0=0)
    view = create_join_view(fact, dim, str(tmp_path / "v"), on={"fk": "dk"},
                            num_buckets=2)
    # a dim change no fact row references: nothing affected, watermarks
    # still advance (properties commit)
    _merge_dim(dim, [(999, "Z", "insert")], lsn0=10)
    out = refresh_join_view(fact, dim, view)
    assert not out["applied"] and out["affected"] == 0
    props = view.manifest().properties
    assert int(props[R_WATERMARK_PROP]) == dim.current_version()
    assert _state(view) == _expected(fact, dim, "inner")
    lag = join_view_lag(fact, dim, view)
    assert lag["right"]["versions_behind"] == 0


def test_contract_validation(spark, tmp_path):
    fact, dim = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="key columns"):
        create_join_view(fact, dim, str(tmp_path / "v1"), on={"fk": "seg"})
    with pytest.raises(ValueError, match="not in left schema"):
        create_join_view(fact, dim, str(tmp_path / "v2"), on={"nope": "dk"})
    with pytest.raises(ValueError, match="collides"):
        create_join_view(fact, dim, str(tmp_path / "v3"), on={"fk": "dk"},
                         right_cols={"amt": "seg"})
    with pytest.raises(ValueError, match="inner.*left|left.*inner"):
        create_join_view(fact, dim, str(tmp_path / "v4"), on={"fk": "dk"},
                         how="full")


def test_null_fk_matches_nothing(spark, tmp_path):
    fact, dim = _mk(spark, tmp_path)
    _merge_dim(dim, [(1, "A", "insert")], lsn0=0)
    _merge_fact(fact, [(10, None, 100, "insert")], lsn0=0)
    view = create_join_view(fact, dim, str(tmp_path / "vi"), on={"fk": "dk"},
                            how="inner", num_buckets=2)
    assert _state(view) == []
    vleft = create_join_view(fact, dim, str(tmp_path / "vl"), on={"fk": "dk"},
                             how="left", num_buckets=2)
    assert _state(vleft) == [(10, None, 100, None)]
    # a later change to that null-fk row flows through refresh too
    _merge_fact(fact, [(10, 1, 150, "insert")], lsn0=10)
    refresh_join_view(fact, dim, view)
    refresh_join_view(fact, dim, vleft)
    assert _state(view) == [(10, 1, 150, "A")]
    assert _state(vleft) == [(10, 1, 150, "A")]


def test_cli_joinview_create_refresh_idempotent(spark, tmp_path, capsys):
    """`joinview` creates the view on first call (with --on), refreshes on
    later calls, and a no-new-commits rerun applies nothing."""
    import json as _json

    from datax_spark import cli

    def _cli(*argv):
        rc = cli.main([str(a) for a in argv])
        out = capsys.readouterr().out.strip().splitlines()[-1]
        return rc, _json.loads(out)

    fact, dim = _mk(spark, tmp_path)
    _merge_dim(dim, [(1, "A", "insert"), (2, "B", "insert")], lsn0=0)
    _merge_fact(fact, [(10, 1, 100, "insert"), (11, 2, 200, "insert")],
                lsn0=0)
    vw = tmp_path / "vw"
    rc, out = _cli("joinview", tmp_path / "fact", tmp_path / "dim", vw,
                   "--on", "fk=dk", "--how", "left", "--cores", 4)
    assert rc == 0 and out["created"] and not out["applied"]

    _merge_fact(fact, [(10, 2, 101, "insert")], lsn0=10)
    _merge_dim(dim, [(2, "B2", "insert")], lsn0=10)
    rc, out = _cli("joinview", tmp_path / "fact", tmp_path / "dim", vw,
                   "--cores", 4)
    assert rc == 0 and not out["created"] and out["applied"]

    rc, out = _cli("joinview", tmp_path / "fact", tmp_path / "dim", vw,
                   "--cores", 4)
    assert rc == 0 and not out["applied"]
    rc, out = _cli("joinview", tmp_path / "fact", tmp_path / "dim", vw,
                   "--lag", "--cores", 4)
    assert rc == 0 and out["lag"]["left"]["versions_behind"] == 0

    view = LakeTable(spark, str(vw))
    assert _state(view) == _expected(fact, dim, "left")

    # bad creation args surface as a clean error payload, not a traceback
    rc, out = _cli("joinview", tmp_path / "fact", tmp_path / "dim",
                   tmp_path / "vw2", "--cores", 4)
    assert rc == 2 and not out["ok"] and "--on is required" in out["error"]


def test_join_views_declared_in_spec(spark, tmp_path):
    """A job.json can declare fact-join-dim views: created on first run,
    refreshed from BOTH changelogs on later runs — a dim-side-only change
    between runs still lands in the view."""
    from datax_spark import fixtures
    from datax_spark.jobspec import JobSpec, run_job

    # dim: repo -> org
    dim = LakeTable.create(
        spark, str(tmp_path / "dim"),
        schema=T.StructType([
            T.StructField("repo", T.StringType()),
            T.StructField("org", T.StringType()),
        ]),
        key_cols=["repo"], bucket_col="repo", num_buckets=4,
    )
    orgs = spark.createDataFrame(
        [Row(repo=f"org{i % 20}/repo{i}", org=f"org{i % 20}",
             op="insert", lsn=i)
         for i in range(500)],
        "repo string, org string, op string, lsn long",
    )
    merge_into(dim, orgs, op_col="op", order_col="lsn", mode="mor",
               auto_compact=None)

    fixtures.change_events(spark, 1500, n_keys=300, seed=42) \
        .write.parquet(str(tmp_path / "feed"))
    spec = JobSpec.from_dict({
        "source": {"path": str(tmp_path / "feed")},
        "target": {
            "location": str(tmp_path / "lake"),
            "key_cols": ["repo", "path", "commit"],
            "bucket_col": "repo",
            "num_buckets": 8,
        },
        "merge": {"mode": "mor", "auto_compact": None},
        "run": {"kind": "incremental", "batch_lsns": 1000},
        "join_views": [{
            "location": str(tmp_path / "vw"),
            "right": str(tmp_path / "dim"),
            "on": {"repo": "repo"},
            "how": "left",
        }],
    })
    assert spec.pre_check(spark) == []
    summary = run_job(spark, spec)
    jv = summary["join_views"][0]
    assert jv["created"] and "error" not in jv

    def expect(fact_t):
        f = fact_t.read()
        d = dim.read().withColumnRenamed("repo", "__r")
        out = f.join(d, f["repo"] == F.col("__r"), "left")
        return sorted((r.repo, r.path, r.commit, r.org)
                      for r in out.select("repo", "path", "commit",
                                          "org").collect())

    fact = LakeTable(spark, str(tmp_path / "lake"))
    view = LakeTable(spark, str(tmp_path / "vw"))
    assert sorted(
        (r.repo, r.path, r.commit, r.org)
        for r in view.read().select("repo", "path", "commit",
                                    "org").collect()
    ) == expect(fact)

    # dim-side-only change between runs: rename an org
    merge_into(dim, spark.createDataFrame(
        [Row(repo="org3/repo3", org="org3-renamed", op="insert",
             lsn=1000)],
        "repo string, org string, op string, lsn long",
    ), op_col="op", order_col="lsn", mode="mor", auto_compact=None)
    summary2 = run_job(spark, spec)
    assert summary2["batches"] == 0  # no new fact data
    jv2 = summary2["join_views"][0]
    assert not jv2["created"] and "error" not in jv2
    assert sorted(
        (r.repo, r.path, r.commit, r.org)
        for r in view.read().select("repo", "path", "commit",
                                    "org").collect()
    ) == expect(fact)
    assert "org3-renamed" in {
        r.org for r in view.read().select("org").collect()
    }


def test_join_views_pre_check_contracts(spark, tmp_path):
    from datax_spark import fixtures
    from datax_spark.jobspec import JobSpec

    fixtures.change_events(spark, 100, n_keys=20, seed=42) \
        .write.parquet(str(tmp_path / "feed"))
    base = {
        "source": {"path": str(tmp_path / "feed")},
        "target": {
            "location": str(tmp_path / "lake"),
            "key_cols": ["repo", "path", "commit"],
            "bucket_col": "repo",
            "num_buckets": 8,
        },
        "merge": {"mode": "cow"},
        "run": {"kind": "incremental", "batch_lsns": 1000},
        "join_views": [{
            "location": str(tmp_path / "vw"),
            "right": str(tmp_path / "nope"),
            "on": {"repo": "repo"},
        }],
    }
    probs = JobSpec.from_dict(base).pre_check(spark)
    assert any("merge.mode='mor'" in p for p in probs)
    assert any("does not exist" in p for p in probs)

    base["merge"] = {"mode": "mor"}
    base["join_views"] = [{"location": str(tmp_path / "vw")}]
    probs = JobSpec.from_dict(base).pre_check(spark)
    assert any("missing on" in p for p in probs)
    assert any("missing right" in p for p in probs)


def test_tail_live_join_views(spark, tmp_path):
    """tail_live_join_views refreshes the declared fact-join-dim view
    INSIDE each micro-batch — when the tail stops, the post-run refresh
    has nothing left to do."""
    from datax_spark import fixtures
    from datax_spark.jobspec import JobSpec, run_job
    from datax_spark.streaming.runner import write_feed_ordered

    dim = LakeTable.create(
        spark, str(tmp_path / "dim"),
        schema=T.StructType([
            T.StructField("repo", T.StringType()),
            T.StructField("org", T.StringType()),
        ]),
        key_cols=["repo"], bucket_col="repo", num_buckets=4,
    )
    orgs = spark.createDataFrame(
        [Row(repo=f"org{i % 20}/repo{i}", org=f"org{i % 20}",
             op="insert", lsn=i)
         for i in range(500)],
        "repo string, org string, op string, lsn long",
    )
    merge_into(dim, orgs, op_col="op", order_col="lsn", mode="mor",
               auto_compact=None)

    feed = fixtures.change_events(spark, 1500, n_keys=300, seed=42)
    write_feed_ordered(feed, str(tmp_path / "feed"), n_files=4)
    vloc = str(tmp_path / "vw")
    spec = JobSpec.from_dict({
        "source": {"path": str(tmp_path / "feed")},
        "target": {
            "location": str(tmp_path / "lake"),
            "key_cols": ["repo", "path", "commit"],
            "bucket_col": "repo",
            "num_buckets": 8,
        },
        "merge": {"mode": "mor", "auto_compact": None},
        "run": {"kind": "tail", "tail_idle_stop_sec": 3,
                "tail_trigger": "250 milliseconds",
                "max_files_per_trigger": 2,
                "tail_live_join_views": True},
        "join_views": [{
            "location": vloc,
            "right": str(tmp_path / "dim"),
            "on": {"repo": "repo"},
            "how": "left",
        }],
    })
    assert spec.pre_check(spark) == []
    summary = run_job(spark, spec)
    assert summary["rows"] == 1500 and summary["batches"] >= 2
    jv = summary["join_views"][0]
    assert jv.get("error") is None
    # live refreshes kept the watermarks current: post-run refresh no-ops
    assert jv["applied"] is False
    view = LakeTable(spark, vloc)
    ops = [view.manifest(v).operation
           for v in range(1, view.current_version() + 1)]
    refreshes = sum(op.startswith("merge") for op in ops)
    assert refreshes >= 2  # at least two live per-batch refreshes
    fact = LakeTable(spark, str(tmp_path / "lake"))
    f, d = fact.read(), dim.read().withColumnRenamed("repo", "__r")
    expected = sorted(
        (r.repo, r.path, r.commit, r.org)
        for r in f.join(d, f["repo"] == F.col("__r"), "left")
        .select("repo", "path", "commit", "org").collect()
    )
    got = sorted(
        (r.repo, r.path, r.commit, r.org)
        for r in view.read().select("repo", "path", "commit",
                                    "org").collect()
    )
    assert got == expected


def test_star_view_two_dims_tracks_all_sides(spark, tmp_path):
    """fact ⋈ dim1 (inner) ⋈ dim2 (left): churn on all three tables, the
    view equals the one-shot double join after every refresh."""
    from datax_spark.lake.joinview import (
        create_star_view,
        refresh_star_view,
        star_view_lag,
    )

    fact = LakeTable.create(
        spark, str(tmp_path / "fact"),
        schema=T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("fk1", T.LongType()),
            T.StructField("fk2", T.LongType()),
            T.StructField("amt", T.LongType()),
        ]),
        key_cols=["k"], bucket_col="k", num_buckets=4,
    )
    dim1 = LakeTable.create(
        spark, str(tmp_path / "dim1"), schema=DIM_SCHEMA, key_cols=["dk"],
        bucket_col="dk", num_buckets=2,
    )
    dim2 = LakeTable.create(
        spark, str(tmp_path / "dim2"),
        schema=T.StructType([
            T.StructField("ek", T.LongType()),
            T.StructField("region", T.StringType()),
        ]),
        key_cols=["ek"], bucket_col="ek", num_buckets=2,
    )

    def mf(rows, lsn0):
        df = spark.createDataFrame(
            [Row(k=k, fk1=f1, fk2=f2, amt=a, op=op, lsn=lsn0 + i)
             for i, (k, f1, f2, a, op) in enumerate(rows)],
            "k long, fk1 long, fk2 long, amt long, op string, lsn long",
        )
        merge_into(fact, df, op_col="op", order_col="lsn", mode="mor",
                   auto_compact=None)

    def md2(rows, lsn0):
        df = spark.createDataFrame(
            [Row(ek=e, region=rg, op=op, lsn=lsn0 + i)
             for i, (e, rg, op) in enumerate(rows)],
            "ek long, region string, op string, lsn long",
        )
        merge_into(dim2, df, op_col="op", order_col="lsn", mode="mor",
                   auto_compact=None)

    _merge_dim(dim1, [(1, "A", "insert"), (2, "B", "insert")], lsn0=0)
    md2([(7, "eu", "insert"), (8, "us", "insert")], lsn0=0)
    mf([(10, 1, 7, 100, "insert"), (11, 2, 8, 200, "insert"),
        (12, 1, 99, 300, "insert")], lsn0=0)
    view = create_star_view(
        fact,
        [{"table": dim1, "on": {"fk1": "dk"}, "how": "inner"},
         {"table": dim2, "on": {"fk2": "ek"}, "how": "left"}],
        str(tmp_path / "v"), num_buckets=2,
    )

    def expect():
        f = fact.read()
        d1 = dim1.read().withColumnRenamed("dk", "__d1")
        d2 = dim2.read().withColumnRenamed("ek", "__d2")
        out = (f.join(d1, f["fk1"] == F.col("__d1"), "inner")
               .join(d2, f["fk2"] == F.col("__d2"), "left"))
        return sorted(
            (r.k, r.fk1, r.fk2, r.amt, r.seg, r.region)
            for r in out.select("k", "fk1", "fk2", "amt", "seg",
                                "region").collect()
        )

    def state():
        return sorted(
            (r.k, r.fk1, r.fk2, r.amt, r.seg, r.region)
            for r in view.read().select("k", "fk1", "fk2", "amt", "seg",
                                        "region").collect()
        )

    assert state() == expect()
    # churn on all three: fact repoint + delete, dim1 rename + delete,
    # dim2 delete (left join -> nulls)
    mf([(10, 2, 8, 101, "insert"), (11, 0, 0, 0, "delete")], lsn0=100)
    _merge_dim(dim1, [(1, "A2", "insert"), (2, "B", "delete")], lsn0=100)
    md2([(8, "us", "delete")], lsn0=100)
    out = refresh_star_view(fact, [dim1, dim2], view)
    assert out["applied"]
    assert state() == expect()
    # dim2-only change on the next refresh
    md2([(7, "emea", "insert")], lsn0=200)
    out = refresh_star_view(fact, [dim1, dim2], view)
    assert state() == expect()
    lag = star_view_lag(fact, [dim1, dim2], view)
    assert lag["rights"][1]["versions_behind"] == 0

    # passing the wrong dim count is refused
    with pytest.raises(ValueError, match="SAME dims"):
        refresh_star_view(fact, [dim1], view)


def test_refresh_rejects_wrong_or_swapped_tables(spark, tmp_path):
    """The spec pins each upstream's LOCATION at create time; a refresh
    (or lag probe) passed different tables — or the right tables in the
    wrong order, even with coincidentally matching key column names — is
    refused instead of silently folding dim A's changelog through dim B's
    join mapping (round-4 advisor finding, joinview.py)."""
    from datax_spark.lake.joinview import (
        create_star_view,
        refresh_star_view,
        star_view_lag,
    )

    fact, dim1 = _mk(spark, tmp_path)
    # a second dim with the SAME schema and key name as dim1
    dim2 = LakeTable.create(
        spark, str(tmp_path / "dim2"), schema=DIM_SCHEMA, key_cols=["dk"],
        bucket_col="dk", num_buckets=4,
    )
    _merge_fact(fact, [(1, 10, 5, "insert")], lsn0=0)
    _merge_dim(dim1, [(10, "big", "insert")], lsn0=0)
    _merge_dim(dim2, [(10, "emea", "insert")], lsn0=0)
    view = create_star_view(
        fact,
        [{"table": dim1, "on": {"fk": "dk"},
          "right_cols": {"seg": "seg"}},
         {"table": dim2, "on": {"fk": "dk"},
          "right_cols": {"seg2": "seg"}}],
        str(tmp_path / "v"),
    )
    # swapped dims: same count, same key names — must be refused
    with pytest.raises(ValueError, match="SAME dim tables"):
        refresh_star_view(fact, [dim2, dim1], view)
    with pytest.raises(ValueError, match="SAME dim tables"):
        star_view_lag(fact, [dim2, dim1], view)
    # wrong fact table
    with pytest.raises(ValueError, match="fact"):
        refresh_star_view(dim1, [dim1, dim2], view)
    # the right tables in spec order still work
    _merge_dim(dim1, [(10, "small", "insert")], lsn0=100)
    out = refresh_star_view(fact, [dim1, dim2], view)
    assert out["applied"]
    rows = view.read().collect()
    assert [(r["seg"], r["seg2"]) for r in rows] == [("small", "emea")]


def test_identity_pin_sees_through_symlinks(spark, tmp_path):
    """A view created through a symlinked lake path refreshes through the
    real path: the pinned identity is the resolved location, and a spec
    that recorded the unresolved (symlinked) paths still matches."""
    import json
    import os

    from datax_spark.lake.joinview import SPEC_PROP

    (tmp_path / "real").mkdir()
    os.symlink(tmp_path / "real", tmp_path / "link")
    fact, dim = _mk(spark, tmp_path / "link")
    _merge_dim(dim, [(1, "A", "insert")], lsn0=0)
    _merge_fact(fact, [(10, 1, 100, "insert")], lsn0=0)
    view = create_join_view(fact, dim, str(tmp_path / "v"), on={"fk": "dk"},
                            num_buckets=2)
    real_fact = LakeTable(spark, str(tmp_path / "real" / "fact"))
    real_dim = LakeTable(spark, str(tmp_path / "real" / "dim"))
    _merge_fact(real_fact, [(11, 1, 200, "insert")], lsn0=10)
    assert refresh_join_view(real_fact, real_dim, view)["applied"]
    assert _state(view) == _expected(real_fact, real_dim, "inner")

    # a spec recorded with the unresolved (symlinked) paths
    spec = json.loads(view.manifest().properties[SPEC_PROP])
    spec["left_location"] = fact.location
    spec["rights"][0]["location"] = dim.location
    view.set_properties(**{SPEC_PROP: json.dumps(spec)})
    _merge_dim(real_dim, [(1, "B", "insert")], lsn0=10)
    assert refresh_join_view(real_fact, real_dim, view)["applied"]
    assert _state(view) == _expected(fact, dim, "inner")


def test_star_view_rejects_snowflake_join(spark, tmp_path):
    """A dim joining on another dim's output (snowflake) is out of
    contract: join columns must be FACT columns."""
    from datax_spark.lake.joinview import create_star_view

    fact, dim = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="FACT columns only"):
        create_star_view(
            fact,
            [{"table": dim, "on": {"fk": "dk"}},
             {"table": dim, "on": {"seg": "dk"}}],  # seg is dim1 output
            str(tmp_path / "v"),
        )


def test_star_form_join_views_in_spec(spark, tmp_path):
    """The join_views entry's star form ({"rights": [...]}) builds a
    multi-dim view from a job run and keeps tracking all changelogs."""
    from datax_spark import fixtures
    from datax_spark.jobspec import JobSpec, run_job

    dim1 = LakeTable.create(
        spark, str(tmp_path / "dim1"),
        schema=T.StructType([
            T.StructField("repo", T.StringType()),
            T.StructField("org", T.StringType()),
        ]),
        key_cols=["repo"], bucket_col="repo", num_buckets=4,
    )
    merge_into(dim1, spark.createDataFrame(
        [Row(repo=f"org{i % 20}/repo{i}", org=f"org{i % 20}",
             op="insert", lsn=i) for i in range(500)],
        "repo string, org string, op string, lsn long",
    ), op_col="op", order_col="lsn", mode="mor", auto_compact=None)
    dim2 = LakeTable.create(
        spark, str(tmp_path / "dim2"),
        schema=T.StructType([
            T.StructField("lang", T.StringType()),
            T.StructField("family", T.StringType()),
        ]),
        key_cols=["lang"], bucket_col="lang", num_buckets=2,
    )
    merge_into(dim2, spark.createDataFrame(
        [Row(lang=lg, family=f"fam-{lg}", op="insert", lsn=i)
         for i, lg in enumerate(["python", "go", "rust", "java", "ts",
                                 "c", "cpp", "ruby"])],
        "lang string, family string, op string, lsn long",
    ), op_col="op", order_col="lsn", mode="mor", auto_compact=None)

    fixtures.change_events(spark, 1200, n_keys=250, seed=42) \
        .write.parquet(str(tmp_path / "feed"))
    spec = JobSpec.from_dict({
        "source": {"path": str(tmp_path / "feed")},
        "target": {
            "location": str(tmp_path / "lake"),
            "key_cols": ["repo", "path", "commit"],
            "bucket_col": "repo",
            "num_buckets": 8,
        },
        "merge": {"mode": "mor", "auto_compact": None},
        "run": {"kind": "incremental", "batch_lsns": 1000},
        "join_views": [{
            "location": str(tmp_path / "vw"),
            "rights": [
                {"right": str(tmp_path / "dim1"),
                 "on": {"repo": "repo"}, "how": "left"},
                {"right": str(tmp_path / "dim2"),
                 "on": {"lang": "lang"}, "how": "left"},
            ],
        }],
    })
    assert spec.pre_check(spark) == []
    summary = run_job(spark, spec)
    jv = summary["join_views"][0]
    assert jv["created"] and "error" not in jv

    def expect():
        fact = LakeTable(spark, str(tmp_path / "lake"))
        f = fact.read()
        d1 = dim1.read().withColumnRenamed("repo", "__r1")
        d2 = dim2.read().withColumnRenamed("lang", "__r2")
        out = (f.join(d1, f["repo"] == F.col("__r1"), "left")
               .join(d2, f["lang"] == F.col("__r2"), "left"))
        return sorted(
            (r.repo, r.path, r.commit, r.org, r.family)
            for r in out.select("repo", "path", "commit", "org",
                                "family").collect()
        )

    view = LakeTable(spark, str(tmp_path / "vw"))

    def state():
        return sorted(
            (r.repo, r.path, r.commit, r.org, r.family)
            for r in view.read().select("repo", "path", "commit", "org",
                                        "family").collect()
        )

    assert state() == expect()
    # dim2-only drift between runs still lands
    merge_into(dim2, spark.createDataFrame(
        [Row(lang="python", family="fam-py3", op="insert", lsn=100)],
        "lang string, family string, op string, lsn long",
    ), op_col="op", order_col="lsn", mode="mor", auto_compact=None)
    summary2 = run_job(spark, spec)
    assert summary2["batches"] == 0
    assert "error" not in summary2["join_views"][0]
    assert state() == expect()
    assert "fam-py3" in {r.family for r in view.read().collect()}


# ------------------------------------------------------ property-based churn
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

# interleaved fact/dim operations over tiny key domains (collisions and
# delete/reinsert patterns guaranteed), refresh points chosen arbitrarily
churn_strategy = st.lists(
    st.one_of(
        st.tuples(st.just("fact"),
                  st.sampled_from(["insert", "delete"]),
                  st.integers(0, 5),        # fact key
                  st.integers(0, 3),        # fk
                  st.integers(0, 99)),      # amt
        st.tuples(st.just("dim"),
                  st.sampled_from(["insert", "delete"]),
                  st.integers(0, 3),        # dim key
                  st.integers(0, 9),        # seg id
                  st.just(0)),
    ),
    min_size=1, max_size=30,
)


@given(events=churn_strategy, cut=st.integers(1, 10),
       how=st.sampled_from(["inner", "left"]))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
def test_view_matches_one_shot_join_for_random_churn(
    spark, tmp_path_factory, events, cut, how
):
    """Any interleaving of fact/dim inserts/deletes, split at an arbitrary
    refresh boundary, must leave the view equal to the one-shot join of
    the final snapshots."""
    tmp = tmp_path_factory.mktemp("jvprop")
    fact, dim = _mk(spark, tmp)
    view = create_join_view(fact, dim, str(tmp / "v"), on={"fk": "dk"},
                            how=how, num_buckets=2)

    def apply_chunk(chunk, lsn0):
        f_rows = [(k, fk, a, op) for t, op, k, fk, a in chunk
                  if t == "fact"]
        d_rows = [(k, f"s{s}", op) for t, op, k, s, _ in chunk
                  if t == "dim"]
        if f_rows:
            _merge_fact(fact, f_rows, lsn0=lsn0)
        if d_rows:
            _merge_dim(dim, d_rows, lsn0=lsn0)

    n = max(1, min(cut, len(events)))
    apply_chunk(events[:n], lsn0=100)
    refresh_join_view(fact, dim, view)
    if events[n:]:
        apply_chunk(events[n:], lsn0=1000)
        refresh_join_view(fact, dim, view)
    assert _state(view) == _expected(fact, dim, how)


def test_composite_foreign_key_join(spark, tmp_path):
    """A dim keyed by TWO columns joins on a two-column fk map; dim-side
    churn reverse-looks-up through the composite key."""
    fact = LakeTable.create(
        spark, str(tmp_path / "fact"),
        schema=T.StructType([
            T.StructField("k", T.LongType()),
            T.StructField("fka", T.LongType()),
            T.StructField("fkb", T.StringType()),
            T.StructField("amt", T.LongType()),
        ]),
        key_cols=["k"], bucket_col="k", num_buckets=2,
    )
    dim = LakeTable.create(
        spark, str(tmp_path / "dim"),
        schema=T.StructType([
            T.StructField("da", T.LongType()),
            T.StructField("db", T.StringType()),
            T.StructField("seg", T.StringType()),
        ]),
        key_cols=["da", "db"], bucket_col="da", num_buckets=2,
    )
    dimdf = spark.createDataFrame(
        [Row(da=a, db=b, seg=f"{a}{b}", op="insert", lsn=i)
         for i, (a, b) in enumerate([(1, "x"), (1, "y"), (2, "x")])],
        "da long, db string, seg string, op string, lsn long",
    )
    merge_into(dim, dimdf, op_col="op", order_col="lsn", mode="mor",
               auto_compact=None)
    factdf = spark.createDataFrame(
        [Row(k=10, fka=1, fkb="x", amt=100, op="insert", lsn=0),
         Row(k=11, fka=1, fkb="y", amt=200, op="insert", lsn=1),
         Row(k=12, fka=2, fkb="y", amt=300, op="insert", lsn=2)],
        "k long, fka long, fkb string, amt long, op string, lsn long",
    )
    merge_into(fact, factdf, op_col="op", order_col="lsn", mode="mor",
               auto_compact=None)
    view = create_join_view(fact, dim, str(tmp_path / "v"),
                            on={"fka": "da", "fkb": "db"}, how="left",
                            num_buckets=2)

    def state():
        return sorted((r.k, r.seg) for r in view.read().collect())

    assert state() == [(10, "1x"), (11, "1y"), (12, None)]
    # composite-key dim churn: update (1,x), delete (1,y), insert (2,y)
    merge_into(dim, spark.createDataFrame(
        [Row(da=1, db="x", seg="1x2", op="insert", lsn=100),
         Row(da=1, db="y", seg="", op="delete", lsn=101),
         Row(da=2, db="y", seg="2y", op="insert", lsn=102)],
        "da long, db string, seg string, op string, lsn long",
    ), op_col="op", order_col="lsn", mode="mor", auto_compact=None)
    out = refresh_join_view(fact, dim, view)
    assert out["applied"] and out["affected"] == 3
    assert state() == [(10, "1x2"), (11, None), (12, "2y")]
    # a partial on-map (not covering the whole dim key) is refused
    with pytest.raises(ValueError, match="key columns"):
        create_join_view(fact, dim, str(tmp_path / "v2"),
                         on={"fka": "da"})


def test_flatten_dim_snowflake_recipe(spark, tmp_path):
    """Snowflake chain fact→dim→parent via the supported recipe
    (flatten_dim): a PARENT-level change (two hops from the fact) reaches
    the star through two incremental refreshes — flatten first, star
    second — and the star equals the one-shot double join of current
    snapshots after churn at every level."""
    from datax_spark.lake.joinview import (
        create_star_view,
        flatten_dim,
        refresh_flattened_dim,
        refresh_star_view,
    )

    fact, dim = _mk(spark, tmp_path)  # fact(k, fk, amt), dim(dk, seg)
    parent = LakeTable.create(
        spark, str(tmp_path / "parent"),
        schema=T.StructType([
            T.StructField("pk", T.LongType()),
            T.StructField("region", T.StringType()),
        ]),
        key_cols=["pk"], bucket_col="pk", num_buckets=2,
    )
    # dim needs a parent fk column → recreate with one
    dim2 = LakeTable.create(
        spark, str(tmp_path / "dim2"),
        schema=T.StructType([
            T.StructField("dk", T.LongType()),
            T.StructField("pfk", T.LongType()),
            T.StructField("seg", T.StringType()),
        ]),
        key_cols=["dk"], bucket_col="dk", num_buckets=4,
    )

    def merge_parent(rows, lsn0):
        df = spark.createDataFrame(
            [Row(pk=pk, region=rg, op=op, lsn=lsn0 + i)
             for i, (pk, rg, op) in enumerate(rows)],
            "pk long, region string, op string, lsn long",
        )
        merge_into(parent, df, op_col="op", order_col="lsn", mode="mor",
                   auto_compact=None)

    def merge_dim2(rows, lsn0):
        df = spark.createDataFrame(
            [Row(dk=dk, pfk=pfk, seg=s, op=op, lsn=lsn0 + i)
             for i, (dk, pfk, s, op) in enumerate(rows)],
            "dk long, pfk long, seg string, op string, lsn long",
        )
        merge_into(dim2, df, op_col="op", order_col="lsn", mode="mor",
                   auto_compact=None)

    _merge_fact(fact, [(1, 10, 5, "insert"), (2, 11, 7, "insert"),
                       (3, 10, 9, "insert")], lsn0=0)
    merge_dim2([(10, 100, "big", "insert"), (11, 101, "small", "insert")],
               lsn0=0)
    merge_parent([(100, "emea", "insert"), (101, "apac", "insert")], lsn0=0)

    flat = flatten_dim(
        dim2,
        [{"table": parent, "on": {"pfk": "pk"}, "how": "inner",
          "right_cols": {"region": "region"}}],
        str(tmp_path / "flat"), num_buckets=2,
    )
    star = create_star_view(
        fact,
        [{"table": flat, "on": {"fk": "dk"}, "how": "inner",
          "right_cols": {"seg": "seg", "region": "region"}}],
        str(tmp_path / "star"), num_buckets=2,
    )

    def expect():
        f = fact.read()
        d = dim2.read().withColumnRenamed("dk", "__dk")
        p = parent.read().withColumnRenamed("pk", "__pk")
        out = (f.join(d, f["fk"] == F.col("__dk"), "inner")
               .join(p, F.col("pfk") == F.col("__pk"), "inner")
               .select("k", "fk", "amt", "seg", "region"))
        return sorted(tuple(r) for r in out.collect())

    def got():
        return sorted(
            tuple(r)
            for r in star.read().select("k", "fk", "amt", "seg",
                                        "region").collect()
        )

    assert got() == expect()  # bootstrap parity

    # PARENT-level churn only: rename region 100, delete region 101 —
    # two hops from the fact
    merge_parent([(100, "emea-x", "insert"), (101, "", "delete")], lsn0=100)
    refresh_flattened_dim(dim2, [parent], flat)
    out = refresh_star_view(fact, [flat], star)
    assert out["applied"]
    assert got() == expect()
    regions = {r[4] for r in got()}
    assert regions == {"emea-x"}  # rename propagated, delete cascaded

    # churn at every level at once, same two-refresh propagation
    _merge_fact(fact, [(2, 10, 70, "insert"), (4, 11, 1, "insert")],
                lsn0=200)
    merge_dim2([(11, 100, "small", "insert"),  # rewire 11 → parent 100
                (10, 100, "", "delete")], lsn0=200)
    merge_parent([(100, "emea-y", "insert")], lsn0=200)
    refresh_flattened_dim(dim2, [parent], flat)
    refresh_star_view(fact, [flat], star)
    assert got() == expect()
    # replay of both refreshes is a no-op
    r1 = refresh_flattened_dim(dim2, [parent], flat)
    r2 = refresh_star_view(fact, [flat], star)
    assert not r1["applied"] and not r2["applied"]


def test_flatten_dim_composes_three_hop_chain(spark, tmp_path):
    """The docstring's 'two-level-plus chains compose the same way'
    claim, pinned: fact → dim → parent → GRANDPARENT.  A grandparent
    change (three hops from the fact) reaches the star through THREE
    incremental refreshes — grandparent-into-parent flatten first, then
    parent-into-dim flatten, then the star — each O(changed keys)."""
    from datax_spark.lake.joinview import (
        create_star_view,
        flatten_dim,
        refresh_flattened_dim,
        refresh_star_view,
    )

    def mk(name, ddl_fields, key):
        return LakeTable.create(
            spark, str(tmp_path / name),
            schema=T.StructType([T.StructField(n, t) for n, t in ddl_fields]),
            key_cols=[key], bucket_col=key, num_buckets=2,
        )

    fact = mk("fact3", [("k", T.LongType()), ("fk", T.LongType()),
                        ("amt", T.LongType())], "k")
    dim = mk("dim3", [("dk", T.LongType()), ("pfk", T.LongType()),
                      ("seg", T.StringType())], "dk")
    parent = mk("par3", [("pk", T.LongType()), ("gfk", T.LongType()),
                         ("pname", T.StringType())], "pk")
    grand = mk("gp3", [("gk", T.LongType()),
                       ("region", T.StringType())], "gk")

    def merge(t, schema_ddl, rows, lsn0):
        df = spark.createDataFrame(rows, schema_ddl)
        merge_into(t, df, op_col="op", order_col="lsn", mode="mor",
                   auto_compact=None)

    merge(fact, "k long, fk long, amt long, op string, lsn long",
          [(1, 10, 5, "insert", 0), (2, 11, 7, "insert", 1),
           (3, 10, 9, "insert", 2)], 0)
    merge(dim, "dk long, pfk long, seg string, op string, lsn long",
          [(10, 100, "big", "insert", 0), (11, 101, "small", "insert", 1)],
          0)
    merge(parent, "pk long, gfk long, pname string, op string, lsn long",
          [(100, 1000, "p-a", "insert", 0), (101, 1001, "p-b", "insert", 1)],
          0)
    merge(grand, "gk long, region string, op string, lsn long",
          [(1000, "emea", "insert", 0), (1001, "apac", "insert", 1)], 0)

    # level 1: parent ⋈ grandparent, keyed by pk
    pflat = flatten_dim(
        parent,
        [{"table": grand, "on": {"gfk": "gk"}, "how": "inner",
          "right_cols": {"region": "region"}}],
        str(tmp_path / "pflat"), num_buckets=2,
    )
    # level 2: dim ⋈ flattened parent, keyed by dk
    dflat = flatten_dim(
        dim,
        [{"table": pflat, "on": {"pfk": "pk"}, "how": "inner",
          "right_cols": {"pname": "pname", "region": "region"}}],
        str(tmp_path / "dflat"), num_buckets=2,
    )
    star = create_star_view(
        fact,
        [{"table": dflat, "on": {"fk": "dk"}, "how": "inner",
          "right_cols": {"seg": "seg", "pname": "pname",
                         "region": "region"}}],
        str(tmp_path / "star3"), num_buckets=2,
    )

    def expect():
        f = fact.read()
        d = dim.read().withColumnRenamed("dk", "__dk")
        p = parent.read().withColumnRenamed("pk", "__pk")
        g = grand.read().withColumnRenamed("gk", "__gk")
        out = (f.join(d, f["fk"] == F.col("__dk"), "inner")
               .join(p, F.col("pfk") == F.col("__pk"), "inner")
               .join(g, F.col("gfk") == F.col("__gk"), "inner")
               .select("k", "fk", "amt", "seg", "pname", "region"))
        return sorted(tuple(r) for r in out.collect())

    def got():
        return sorted(
            tuple(r) for r in star.read()
            .select("k", "fk", "amt", "seg", "pname", "region").collect()
        )

    assert got() == expect()  # bootstrap parity through two flatten levels

    # GRANDPARENT-only churn: rename region 1000, delete region 1001 —
    # three hops from the fact
    merge(grand, "gk long, region string, op string, lsn long",
          [(1000, "emea-x", "insert", 100), (1001, "", "delete", 101)], 100)
    refresh_flattened_dim(parent, [grand], pflat)
    refresh_flattened_dim(dim, [pflat], dflat)
    out = refresh_star_view(fact, [dflat], star)
    assert out["applied"]
    assert got() == expect()
    assert {r[5] for r in got()} == {"emea-x"}  # rename + delete cascade

    # churn at every level at once, same three-refresh propagation
    merge(fact, "k long, fk long, amt long, op string, lsn long",
          [(4, 11, 1, "insert", 200)], 200)
    merge(dim, "dk long, pfk long, seg string, op string, lsn long",
          [(11, 100, "small", "insert", 200)], 200)  # rewire 11 → parent 100
    merge(parent, "pk long, gfk long, pname string, op string, lsn long",
          [(100, 1000, "p-a2", "insert", 200)], 200)
    merge(grand, "gk long, region string, op string, lsn long",
          [(1000, "emea-y", "insert", 200)], 200)
    refresh_flattened_dim(parent, [grand], pflat)
    refresh_flattened_dim(dim, [pflat], dflat)
    refresh_star_view(fact, [dflat], star)
    assert got() == expect()
