"""In-memory span tracer wrapped around the engine's public entry points.

A span records name, parent span, start, end, the Spark jobs started while
it was open and the bytes it moved.  Spans stay in a list and are written
out once, when the run ends.  Self time is a span's duration minus the
time its direct children cover.

Spark jobs are counted with the DAG scheduler's next job id, which also
counts jobs that Structured Streaming runs inside a job group (the status
tracker's ``getJobIdsForGroup(None)`` does not).  The count is global, so
a span's job delta is exact only while one thread runs Spark work; the
benchmark runs its stages one after another to keep it so.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time


class Tracer:
    def __init__(self, spark):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._sc = spark.sparkContext
        self._patched: list[tuple[object, str, object]] = []

    def jobs(self) -> int:
        return int(self._sc._jsc.sc().dagScheduler().nextJobId())

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def wrap(self, owner, attr: str, name: str, nbytes=None) -> None:
        """Replace ``owner.attr`` with a traced wrapper.  A module-level
        function is also replaced wherever another engine module imported
        it by name.  ``nbytes(args, kwargs, result)`` gives the span's
        byte count."""
        orig = owner.__dict__[attr]
        static = isinstance(orig, staticmethod)
        fn = orig.__func__ if static else orig

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                try:
                    out = fn(*args, **kwargs)
                except Exception as e:
                    sp.error = type(e).__name__
                    raise
                if nbytes is not None:
                    sp.bytes = int(nbytes(args, kwargs, out))
                return out

        new = staticmethod(traced) if static else traced
        self._set(owner, attr, new)
        if isinstance(owner, type):
            return
        for mod in list(sys.modules.values()):
            if (mod is not owner and getattr(mod, "__name__", "")
                    .startswith("datax_spark")
                    and getattr(mod, attr, None) is fn):
                self._set(mod, attr, traced)

    def _set(self, owner, attr, value) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def unwrap(self) -> None:
        for owner, attr, value in reversed(self._patched):
            setattr(owner, attr, value)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


class _Span:
    __slots__ = ("tr", "rec", "bytes", "error", "_t0", "_j0")

    def __init__(self, tr: Tracer, name: str, attrs: dict):
        self.tr = tr
        self.rec = {"name": name, **attrs}
        self.bytes = 0
        self.error = None

    def __enter__(self):
        st = self.tr._stack()
        self.rec["id"] = len(self.tr.spans) + 1
        self.tr.spans.append(self.rec)
        self.rec["parent"] = st[-1]["id"] if st else None
        st.append(self.rec)
        self._j0 = self.tr.jobs()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.rec.update(start=self._t0, end=end,
                        jobs=self.tr.jobs() - self._j0, bytes=self.bytes)
        if self.error is not None:
            self.rec["error"] = self.error
        self.tr._stack().pop()
        return False


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the union its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None and "end" in s:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        if "end" not in s:
            continue
        covered, edge = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, edge), min(b, s["end"])
            if b > a:
                covered += b - a
                edge = b
        out[s["id"]] = s["end"] - s["start"] - covered
    return out


def install(tracer: Tracer) -> None:
    """Wrap the entry points the per-layer metrics are taken from."""
    from datax_spark.cdc import apply as cdc_apply
    from datax_spark.lake import aggview, catalog, joinview, merge, table

    t = tracer
    t.wrap(cdc_apply.CdcApplier, "apply_batch", "cdc.apply.apply_batch")
    t.wrap(cdc_apply.CdcApplier, "filter_already_applied",
           "cdc.apply.filter_already_applied")
    t.wrap(merge, "merge_into", "lake.merge.merge_into")
    t.wrap(table.LakeTable, "manifest", "lake.table.manifest")
    t.wrap(table.LakeTable, "scan_plan", "lake.table.scan_plan")
    t.wrap(table.LakeTable, "compact", "lake.table.compact")
    t.wrap(table.Manifest, "to_json", "lake.table.Manifest.to_json",
           nbytes=lambda a, k, out: len(out))
    t.wrap(table.Manifest, "from_json", "lake.table.Manifest.from_json",
           nbytes=lambda a, k, out: len(a[0]))
    t.wrap(catalog.FileCatalog, "commit", "lake.catalog.commit",
           nbytes=lambda a, k, out: len(a[2]))
    t.wrap(catalog.FileCatalog, "read_manifest", "lake.catalog.read_manifest",
           nbytes=lambda a, k, out: len(out))
    t.wrap(aggview, "refresh_agg_view", "lake.aggview.refresh_agg_view")
    t.wrap(joinview, "refresh_join_view", "lake.joinview.refresh_join_view")
