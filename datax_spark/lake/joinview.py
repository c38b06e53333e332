"""Incremental equi-join views: a fact ⋈ dim₁ ⋈ … ⋈ dimₖ star join
maintained from ALL upstreams' changelogs — the delta-join / "dynamic
table" shape (Flink temporal join materialization, Materialize delta
joins) that the aggregate view (`lake/aggview.py`, GROUP BY only) cannot
express.

The reference has no analogue: DataX outsources every join to the source
database's SQL (`plugin-rdbms-util/.../util/ReaderSplitUtil.java:94-103`
passes user querySql through opaquely), so a synced join result goes
stale the moment any base table changes and the whole query re-syncs.
Here the joined result is itself a :class:`LakeTable` and each refresh
touches only the rows any side's changes can affect.

Shape: a STAR of N:1 equi-joins — each dim's join columns must be (a)
columns of the LEFT (fact) table and (b) exactly that dim's key columns
(the foreign-key-to-primary-key join every enrichment pipeline runs), so
each fact row contributes at most one view row and the view is keyed by
the fact table's key.  Per dim, ``how`` is ``inner`` (an unmatched or
dim-deleted fact row leaves the view) or ``left`` (it stays with null
dim columns).  Snowflake chains (joining through a dim's columns) are
deliberately out of contract — flatten the dim first with
:func:`flatten_dim`: a MAINTAINED join view whose "fact" is the child
dim and whose dims are its parents.  The flattened view is an ordinary
LakeTable keyed by the child dim's key, so it plugs straight into a
star as a dim; refreshing the flattened view first and the star second
propagates a parent change (a nation rename two hops from the fact) in
two incremental refreshes, each O(changed keys) — never a fact scan.

Refresh = exact partial recompute, never O(any table):

1. every upstream's changelog since the view's per-upstream watermarks
   (``read_changes`` — manifest file-diff, O(files added));
2. the AFFECTED fact keys: keys appearing in the fact changelog, plus
   current fact rows whose join columns appear in any dim's changelog
   (reverse foreign-key lookup — the fact scan pushes the touched dim
   keys down as an IN conjunction so manifest ZONE MAPS / bloom filters
   skip files; keep a hot fact table clustered on the fk via
   ``compact(sort_cols=[fk])`` and this costs O(matching files));
3. recompute JUST those keys against the CURRENT dim snapshots (each
   restricted by semi join to the fk values actually present — O(batch)
   rows on the build side, broadcast outside the small-batch static
   scope), emit upserts for keys that now produce a row and tombstones
   for keys that no longer do;
4. one MERGE into the view carries the rows AND advances every watermark
   in the same atomic commit (``properties_update``), with the merge's
   batch-id replay guard making a re-run of a completed refresh a no-op
   — the same exactly-once protocol as the mirror and the agg view.

Correctness note (why partial recompute is exact): the view's row for a
fact key is a pure function of (current fact row for that key, current
dim snapshots).  A key's view row can change only if (a) its fact row
changed — it is in the fact changelog — or (b) a dim row it joins to
changed, before or after: that dim's changelog carries BOTH the old and
new join-key values (tombstones carry keys), so the reverse lookup
finds every such fact row.  All other keys' inputs are untouched, and
recomputing an affected key from current snapshots is definitionally
the right answer regardless of how many changes the ranges held.

``create_join_view`` / ``refresh_join_view`` are the single-dim calls;
``create_star_view`` / ``refresh_star_view`` take a list of dims.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datax_spark.lake.aggview import (
    _RESCAN_PUSHDOWN_CAP,
    _bcast,
    _pin,
    _static_planning_if_small,
)
from datax_spark.lake.merge import merge_into
from datax_spark.lake.table import LakeTable

L_WATERMARK_PROP = "joinview_left_version"
# JSON list, one watermark per dim in spec order
R_WATERMARKS_PROP = "joinview_right_versions"
# kept mirrored for single-dim views (monitoring/back-compat)
R_WATERMARK_PROP = "joinview_right_version"
SPEC_PROP = "joinview_spec"
_OP = "__jv_op"
_ORD = "__jv_ord"


def _spec(view: LakeTable) -> dict:
    raw = view.manifest().properties.get(SPEC_PROP)
    if raw is None:
        raise ValueError(
            "table has no joinview spec — create it with create_join_view()"
        )
    return json.loads(raw)


def _check_tables(spec: dict, left: LakeTable,
                  rights: list[LakeTable]) -> None:
    """Refuse upstreams that are not the tables the view was created over,
    in spec order.  Watermark COUNT alone can't catch two dims passed
    swapped (or the wrong tables) whose key column names coincide — that
    would silently fold dim A's changelog through dim B's join mapping.
    Specs written before locations were recorded skip the check."""
    exp = spec.get("left_location")
    if exp is not None and (os.path.realpath(left.location)
                            != os.path.realpath(exp)):
        raise ValueError(
            f"view was created over fact table {exp!r} but "
            f"{left.location!r} was passed as the fact"
        )
    for i, (r, rt) in enumerate(zip(spec["rights"], rights)):
        exp = r.get("location")
        if exp is not None and (os.path.realpath(rt.location)
                                != os.path.realpath(exp)):
            raise ValueError(
                f"rights[{i}] is {rt.location!r} but the view was created "
                f"over {exp!r} — pass the SAME dim tables, in spec order"
            )


def _watermarks(view: LakeTable, n_rights: int) -> tuple[int, list[int]]:
    props = view.manifest().properties
    wl = int(props[L_WATERMARK_PROP])
    wrs = [int(v) for v in json.loads(props[R_WATERMARKS_PROP])]
    if len(wrs) != n_rights:
        raise ValueError(
            f"view tracks {len(wrs)} dim watermarks but {n_rights} dim "
            "tables were passed — pass the SAME dims, in spec order"
        )
    return wl, wrs


def _wm_props(cl: int, crs: list[int]) -> dict:
    out = {L_WATERMARK_PROP: int(cl),
           R_WATERMARKS_PROP: json.dumps([int(v) for v in crs])}
    if len(crs) == 1:
        out[R_WATERMARK_PROP] = int(crs[0])
    return out


def _changed_bytes(table: LakeTable, from_v: int, to_v: int) -> int:
    """Bytes of logical-change files added in ``(from_v, to_v]`` — the
    static-planning cost input, derived purely from manifests (zero Spark
    jobs).  Physical rewrites (compact/rebucket) add no logical change."""
    total = 0
    prev = {
        e[0]
        for es in table.manifest(from_v).files.values()
        for e in es
    }
    for v in range(from_v + 1, to_v + 1):
        m = table.manifest(v)
        cur = {e[0] for es in m.files.values() for e in es}
        if m.operation not in ("create", "properties", "compact",
                               "compact-minor", "rebucket"):
            total += sum(
                table._entry_bytes(e)
                for es in m.files.values() for e in es
                if e[0] not in prev and not (len(e) > 2 and e[2] == "dv")
            )
        prev = cur
    return total


def _joined(left_df: DataFrame, right_dfs: list[DataFrame],
            spec: dict) -> DataFrame:
    """The view's defining query over the fact frame and one frame per
    dim, chained in spec order, in the view's column order."""
    out = left_df
    for i, (r, rdf) in enumerate(zip(spec["rights"], right_dfs)):
        on: dict = r["on"]
        rsel = rdf.select(
            *[F.col(c).alias(f"__r{i}_{c}") for c in on.values()],
            *[F.col(src).alias(o) for o, src in r["right_cols"].items()],
        )
        cond = None
        for lc, rc in on.items():
            e = out[lc] == rsel[f"__r{i}_{rc}"]
            cond = e if cond is None else (cond & e)
        out = out.join(rsel, on=cond, how=r["how"])
    return out.select(*spec["out_cols"])


def create_star_view(
    left: LakeTable,
    rights: list[dict],
    location: str,
    num_buckets: int = 16,
    mode: str = "mor",
) -> LakeTable:
    """Create a star view and bootstrap it with a one-shot join of all
    current snapshots.  ``rights`` is a list of
    ``{"table": LakeTable, "on": {fact_col: dim_col}, "right_cols":
    {out: src} | None, "how": "inner"|"left"}`` — per dim, ``on``'s dim
    side must be exactly that dim's key columns and its fact side must be
    fact-table columns (N:1 star contract; see module docstring).
    ``right_cols`` defaults to every dim non-key column under its own
    name; collisions with fact columns or other dims' outputs are errors.

    Like the agg view, bootstrap is two commits (overwrite, then
    spec+watermarks) — a crash between them leaves no spec and the
    bootstrap is simply resumed on the next call."""
    if not rights:
        raise ValueError("rights must name at least one dim table")
    lm = left.manifest()
    lnames = {f.name for f in lm.schema.fields}
    fields = list(lm.schema.fields)
    taken = set(lnames)
    spec_rights = []
    for i, r in enumerate(rights):
        right: LakeTable = r["table"]
        on: dict = r["on"]
        how = r.get("how", "inner")
        if how not in ("inner", "left"):
            raise ValueError(f"rights[{i}]: how must be 'inner' or "
                             f"'left', got {how!r}")
        rm = right.manifest()
        rnames = {f.name: f for f in rm.schema.fields}
        for lc, rc in on.items():
            if lc not in lnames:
                raise ValueError(
                    f"rights[{i}]: join column {lc!r} not in left schema "
                    "(star contract: dims join on FACT columns only)")
            if rc not in rnames:
                raise ValueError(
                    f"rights[{i}]: join column {rc!r} not in right schema")
        if set(on.values()) != set(rm.key_cols):
            raise ValueError(
                f"rights[{i}]: join columns {sorted(on.values())} must be "
                f"exactly the right table's key columns "
                f"{sorted(rm.key_cols)} (N:1 join contract)"
            )
        right_cols = r.get("right_cols")
        if right_cols is None:
            right_cols = {
                f.name: f.name for f in rm.schema.fields
                if f.name not in rm.key_cols
            }
        for out_c, src in right_cols.items():
            if src not in rnames:
                raise ValueError(
                    f"rights[{i}]: right column {src!r} not in right schema")
            if out_c in taken:
                raise ValueError(
                    f"rights[{i}]: output column {out_c!r} collides — "
                    "rename it via right_cols"
                )
            taken.add(out_c)
            # dim columns are nullable in the view regardless of source
            # nullability: a left-join miss writes null
            fields.append(T.StructField(out_c, rnames[src].dataType, True))
        spec_rights.append({"on": dict(on), "right_cols": dict(right_cols),
                            "how": how,
                            # identity pin: refresh/lag verify the SAME
                            # tables come back in spec order
                            "location": os.path.realpath(right.location),
                            "key_cols": sorted(rm.key_cols)})
    spec = {
        "rights": spec_rights,
        "mode": mode,
        "out_cols": [f.name for f in fields],
        "left_location": os.path.realpath(left.location),
    }
    try:
        view = LakeTable.create(
            left.spark, location,
            schema=T.StructType(fields),
            key_cols=list(lm.key_cols),
            bucket_col=lm.key_cols[0],
            num_buckets=num_buckets,
        )
    except FileExistsError:
        view = LakeTable(left.spark, location)
        if view.manifest().properties.get(SPEC_PROP) is not None:
            raise FileExistsError(
                f"join view already exists at {location}"
            ) from None
    lv = left.current_version()
    rvs = [r["table"].current_version() for r in rights]
    if lv > 0:
        snap_bytes = sum(
            t._entry_bytes(e)
            for t in (left, *[r["table"] for r in rights])
            for es in t.manifest().files.values() for e in es
        )
        with _static_planning_if_small(left.spark, snap_bytes):
            view.overwrite(
                _joined(left.read(version=lv),
                        [r["table"].read(version=v)
                         for r, v in zip(rights, rvs)], spec)
            )
    view.set_properties(**{
        **_wm_props(lv, rvs),
        SPEC_PROP: json.dumps(spec),
    })
    return view


def create_join_view(
    left: LakeTable,
    right: LakeTable,
    location: str,
    on: dict[str, str],
    right_cols: dict[str, str] | None = None,
    how: str = "inner",
    num_buckets: int = 16,
    mode: str = "mor",
) -> LakeTable:
    """Single-dim convenience wrapper over :func:`create_star_view`."""
    return create_star_view(
        left,
        [{"table": right, "on": on, "right_cols": right_cols, "how": how}],
        location, num_buckets=num_buckets, mode=mode,
    )


def flatten_dim(
    dim: LakeTable,
    parents: list[dict],
    location: str,
    num_buckets: int = 16,
    mode: str = "mor",
) -> LakeTable:
    """The snowflake recipe: materialize ``dim ⋈ parent₁ ⋈ … ⋈ parentₖ``
    as a maintained join view keyed by ``dim``'s key.  ``parents`` takes
    the same shape as :func:`create_star_view`'s ``rights`` (each
    parent's join columns must be columns of ``dim`` and exactly that
    parent's key — the N:1 contract applies one level up).  The result
    is an ordinary LakeTable: pass it as a dim to a star view over the
    real fact, refresh it FIRST (:func:`refresh_flattened_dim`) and the
    star second, and a parent-level change reaches the fact rows in two
    O(changed-keys) refreshes.  Two-level-plus chains compose the same
    way (flatten the grandparent into the parent, then the parent into
    the dim).

    Reference analogue: DataX outsources snowflake joins wholesale to
    the source database's querySql
    (plugin-rdbms-util/.../util/ReaderSplitUtil.java:94-103) and
    re-syncs the whole result on any change; here each level folds
    incrementally."""
    return create_star_view(dim, parents, location,
                            num_buckets=num_buckets, mode=mode)


def refresh_flattened_dim(
    dim: LakeTable,
    parents: list[LakeTable],
    view: LakeTable,
    on_rewrite: str = "error",
    auto_compact: int | None = None,
) -> dict:
    """One incremental refresh of a :func:`flatten_dim` view — call
    before refreshing any star that consumes it."""
    return refresh_star_view(dim, parents, view, on_rewrite=on_rewrite,
                             auto_compact=auto_compact)


def star_view_lag(left: LakeTable, rights: list[LakeTable],
                  view: LakeTable) -> dict:
    """Staleness of the view vs every upstream — monitoring surface."""
    spec = _spec(view)
    _check_tables(spec, left, rights)
    wl, wrs = _watermarks(view, len(spec["rights"]))
    return {
        "left_watermark": wl,
        "right_watermarks": wrs,
        "left": left.commit_lag(wl),
        "rights": [t.commit_lag(w) for t, w in zip(rights, wrs)],
    }


def join_view_lag(left: LakeTable, right: LakeTable, view: LakeTable) -> dict:
    """Single-dim lag report (back-compat shape)."""
    out = star_view_lag(left, [right], view)
    return {
        "left_watermark": out["left_watermark"],
        "right_watermark": out["right_watermarks"][0],
        "left": out["left"],
        "right": out["rights"][0],
    }


def refresh_star_view(
    left: LakeTable,
    rights: list[LakeTable],
    view: LakeTable,
    on_rewrite: str = "error",
    auto_compact: int | None = None,
) -> dict:
    """One incremental refresh: fold every upstream's changes since the
    stored watermarks into the view (see module docstring for the exact
    partial-recompute argument).  Returns refresh stats; a re-run of a
    completed refresh is a no-op (merge batch-id replay guard).

    ``on_rewrite`` passes through to ``read_changes`` — upstreams merged
    with ``mode="mor"`` replay cleanly; a COW/DV upstream raises unless
    ``"skip"`` is passed (and then its rewrites are NOT folded, exactly
    like the mirror's contract)."""
    spec = _spec(view)
    _check_tables(spec, left, rights)
    wl, wrs = _watermarks(view, len(rights))
    cl = left.current_version()
    crs = [t.current_version() for t in rights]
    if cl == wl and crs == wrs:
        return {"left": (wl, cl),
                "rights": list(zip(wrs, crs)),
                "affected": 0, "applied": False}
    lkeys = left.manifest().key_cols
    change_bytes = _changed_bytes(left, wl, cl) + sum(
        _changed_bytes(t, w, c) for t, w, c in zip(rights, wrs, crs)
    )
    with _static_planning_if_small(left.spark, change_bytes):
        # -- affected fact keys ------------------------------------------
        # (a) keys whose own row changed
        aff = None
        if cl > wl:
            dl = left.read_changes(wl, cl, on_rewrite=on_rewrite)
            aff = dl.select(*lkeys).distinct()
        # (b) keys whose dim rows changed: reverse fk lookup per dim on
        # the current fact snapshot, touched-dim-keys pushed down for
        # file skipping
        for i, (rt, w, c) in enumerate(zip(rights, wrs, crs)):
            if c <= w:
                continue
            on: dict = spec["rights"][i]["on"]
            dr = rt.read_changes(w, c, on_rewrite=on_rewrite)
            rkc = list(on.values())
            touched = dr.select(*rkc).distinct()
            t_rows = touched.limit(_RESCAN_PUSHDOWN_CAP + 1).collect()
            few = (len(t_rows) <= _RESCAN_PUSHDOWN_CAP
                   and not any(v is None for r in t_rows for v in r))
            push = (
                [(lc, "in", sorted({r[rc] for r in t_rows}))
                 for lc, rc in on.items()]
                if few else None
            )
            lscan = left.read(version=cl, where=push)
            tk = touched.select(
                *[F.col(rc).alias(f"__t_{rc}") for rc in rkc]
            )
            cond = None
            for lc, rc in on.items():
                e = lscan[lc] == F.col(f"__t_{rc}")
                cond = e if cond is None else (cond & e)
            rk_keys = (
                lscan.join(_bcast(tk), on=cond, how="left_semi")
                .select(*lkeys).distinct()
            )
            aff = rk_keys if aff is None else (
                aff.unionByName(rk_keys).distinct()
            )
        aff = _pin(aff)
        try:
            a_rows = aff.limit(_RESCAN_PUSHDOWN_CAP + 1).collect()
            if not a_rows:
                view.set_properties(**_wm_props(cl, crs))
                return {"left": (wl, cl),
                        "rights": list(zip(wrs, crs)),
                        "affected": 0, "applied": False}
            few = (len(a_rows) <= _RESCAN_PUSHDOWN_CAP
                   and not any(v is None for r in a_rows for v in r))
            a_push = (
                [(k, "in", sorted({r[i] for r in a_rows}))
                 for i, k in enumerate(lkeys)]
                if few else None
            )
            # -- recompute just the affected keys ------------------------
            akn = aff.select(
                *[F.col(k).alias(f"__a_{k}") for k in lkeys]
            )
            lsnap = left.read(version=cl, where=a_push)
            cond = None
            for k in lkeys:
                e = lsnap[k].eqNullSafe(F.col(f"__a_{k}"))
                cond = e if cond is None else (cond & e)
            cur_rows = lsnap.join(_bcast(akn), on=cond, how="left_semi")
            # each dim snapshot restricted to the fk values actually
            # present among the affected fact rows
            rdfs = []
            for i, (rt, c) in enumerate(zip(rights, crs)):
                on = spec["rights"][i]["on"]
                fks = cur_rows.select(
                    *[F.col(lc).alias(f"__f_{rc}") for lc, rc in on.items()]
                ).distinct()
                rsnap = rt.read(version=c)
                rcond = None
                for rc in on.values():
                    e = rsnap[rc] == F.col(f"__f_{rc}")
                    rcond = e if rcond is None else (rcond & e)
                rdfs.append(rsnap.join(_bcast(fks), on=rcond,
                                       how="left_semi"))
            result = _joined(cur_rows, rdfs, spec)
            # -- upserts + tombstones, one atomic merge ------------------
            res_k = result.select(
                *[F.col(k).alias(f"__g_{k}") for k in lkeys]
            ).distinct()
            gcond = None
            for k in lkeys:
                e = aff[k].eqNullSafe(F.col(f"__g_{k}"))
                gcond = e if gcond is None else (gcond & e)
            gone = aff.join(res_k, on=gcond, how="left_anti")
            vschema = view.schema()
            dels = gone.select(*[
                (F.col(f.name) if f.name in lkeys
                 else F.lit(None).cast(f.dataType)).alias(f.name)
                for f in vschema.fields
            ])
            # refresh ordinal: the component-wise-monotone watermark
            # tuple makes the version SUM strictly increasing across
            # refreshes — monotone MOR ordering with no bit budget to wrap
            ordinal = int(cl) + sum(int(c) for c in crs)
            batch = (
                result.withColumn(_OP, F.lit("insert"))
                .unionByName(dels.withColumn(_OP, F.lit("delete")))
                .withColumn(_ORD, F.lit(ordinal).cast("long"))
            )
            mf = merge_into(
                view, batch, op_col=_OP, order_col=_ORD,
                mode=spec.get("mode", "mor"), auto_compact=auto_compact,
                keys_unique=True,
                # one "joinview" namespace with a monotone numeric tail
                # (the refresh ordinal) — the shape lineage retirement
                # pruning assumes (Manifest.is_applied)
                lineage={"batch_id": f"joinview{ordinal}"},
                properties_update=_wm_props(cl, crs),
            )
        finally:
            aff.unpersist()
    return {
        "left": (wl, cl),
        "rights": list(zip(wrs, crs)),
        "affected": len(a_rows) if len(a_rows) <= _RESCAN_PUSHDOWN_CAP
        else None,
        "applied": mf is not None,
        "pushdown": a_push is not None,
    }


def refresh_join_view(
    left: LakeTable,
    right: LakeTable,
    view: LakeTable,
    on_rewrite: str = "error",
    auto_compact: int | None = None,
) -> dict:
    """Single-dim convenience wrapper over :func:`refresh_star_view`.
    Returns the star stats plus the single-dim ``right`` tuple."""
    out = refresh_star_view(left, [right], view, on_rewrite=on_rewrite,
                            auto_compact=auto_compact)
    out["right"] = out["rights"][0]
    return out
