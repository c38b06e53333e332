"""The benchmark's workloads, built from stages run in order.

Every run starts with ``setup`` (JVM and session start and the empty
starting tables, repeated ``SETUP_CYCLES`` times in fresh JVMs, median
reported) and ``load`` (``full_sync`` of the base snapshot),
and ends with ``lookups`` (point lookups of a fixed key mix: read path,
pruning), ``scan`` (repeated full-table checksum scans) and
``full_syncs`` (``LOADS`` timed full syncs of the snapshot into new
tables), each result checked against the pure-Python fold.  In between:

- ``live_tail`` (open loop): ``run_continuous`` tails Debezium-JSON files
  that a feeder thread lands on a fixed schedule, then a backlog landed at
  once and drained.  Many small commits: decode, trigger loop, replay
  guard, manifest and catalog work.
- ``serve_mixed`` (closed loop): a backfill, ``run_incremental`` over a
  parquet envelope feed cut into a few large micro-batches (per-row MERGE
  work, compaction), then serving rounds of one small
  ``CdcApplier.apply_batch`` upsert and an aggregate-view and a join-view
  refresh (view maintenance).

Every workload reports the same end-to-end metrics (see ``run.py``), so
"freshness" is defined for each: the time from a change batch being due
to its data being visible in every table the workload serves.  In the
open loop a file is due at its scheduled landing time; in the closed
serving loop a round's upsert is due when the round starts.

Stages run one after another: the Spark job counter is global, and
overlapping stages would blur each span's job count.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

import gen
import oracle

CORES = 2
DIM_COLS = ("repo", "owner")


@dataclass(frozen=True)
class Shape:
    base_rows: int          # snapshot rows loaded by full_sync
    bulk_events: int = 0    # events replayed by run_incremental
    bulk_batches: int = 0   # micro-batches the bulk feed is cut into
    tail_scheduled: int = 0  # files landed on the schedule
    tail_backlog: int = 0   # files landed at once after the schedule
    serve_rounds: int = 0   # upsert + view refresh rounds
    lookups: int = 6        # point lookups, a multiple of 3


# Live-tail feed: files of TAIL_FILE_EVENTS events every TAIL_PERIOD_S
# seconds (400 events/s); each scheduled file keeps the tail busy for about
# half of its period (measured figures in README.md).  TAIL_PRIMERS files are applied before the schedule
# starts, so query start-up is not charged to a scheduled file.
TAIL_FILE_EVENTS = 1000
TAIL_PERIOD_S = 2.5
TAIL_PRIMERS = 2
# The engine's processingTime trigger fires on a wall-clock grid (multiples
# of its 500 ms default interval).  Files land at a fixed phase of that
# grid, so every file waits the same ~250 ms for its trigger instead of a
# uniform 0-500 ms that a handful of samples cannot average out.
TRIGGER_GRID_S = 0.5
LANDING_PHASE_S = 0.25
SERVE_BATCH_EVENTS = 300
SCANS = 5                   # full-table checksum scans ending every run
SETUP_CYCLES = 3            # set-ups per run, each in a fresh JVM
LOADS = 3                   # timed full syncs of the base snapshot per run

WORKLOADS = {
    # open loop, many small commits: decode, trigger loop, replay guard,
    # manifest and catalog work
    "live_tail": Shape(base_rows=20_000, tail_scheduled=4, tail_backlog=4),
    # closed loop: a backfill of a few large micro-batches (per-row MERGE
    # work), then serving rounds (views); the third round's upsert carries
    # an auto-compaction, after which lookups read compacted buckets
    "serve_mixed": Shape(base_rows=20_000, bulk_events=42_000,
                         bulk_batches=3, serve_rounds=3, lookups=12),
}


def scaled(shape: Shape, seconds: int, ref_seconds: int) -> Shape:
    """Scale the change stage with the requested run length; every count
    is a pure function of (workload, seconds), so job counts repeat."""
    f = max(0.25, seconds / ref_seconds)

    def n(x, lo):
        return max(lo, round(x * f)) if x else 0

    return Shape(base_rows=shape.base_rows,
                 bulk_events=n(shape.bulk_events, 4000),
                 bulk_batches=shape.bulk_batches,
                 tail_scheduled=n(shape.tail_scheduled, 3),
                 tail_backlog=n(shape.tail_backlog, 2),
                 serve_rounds=n(shape.serve_rounds, 3),
                 lookups=shape.lookups)


class Failed(Exception):
    """The engine did not reach a state the benchmark waits for."""


class Inputs:
    """Every file the engine reads, generated before any timing starts."""

    def __init__(self, root: str, seed: int, shape: Shape):
        self.root = root
        n_tail = shape.tail_scheduled + shape.tail_backlog
        n_events = (shape.bulk_events
                    + (TAIL_PRIMERS + n_tail if n_tail else 0)
                    * TAIL_FILE_EVENTS
                    + shape.serve_rounds * SERVE_BATCH_EVENTS)
        fs = gen.FeedState(seed, shape.base_rows + n_events // 3)
        self.keyspace = fs.keyspace
        self.base = fs.snapshot(shape.base_rows)
        self.snap_dir = self._parquet("snapshot", self.base)
        self.dim = _dim_table()
        self.dim_dir = self._parquet("dim", self.dim)
        self.changes: list[pa.Table] = []  # every event, in LSN order

        self.bulk = None
        if shape.bulk_events:
            self.bulk = fs.events(shape.bulk_events)
            self.changes.append(self.bulk)
            self.bulk_dir = self._parquet(
                "bulk", self.bulk, -(-shape.bulk_events // shape.bulk_batches))
            # batch id = lsn // batch_lsns: cut the feed into bulk_batches
            last = int(self.bulk["lsn"][-1].as_py())
            self.bulk_batch_lsns = -(-(last + 1) // shape.bulk_batches)

        # tail: primer files (absorb query start), the schedule, the
        # backlog; names sort in LSN order
        self.tail_files: list[tuple[str, int, int, int]] = []
        if n_tail:
            self.tail_stage = os.path.join(root, "in", "tail")
            os.makedirs(self.tail_stage)
            for _ in range(TAIL_PRIMERS + n_tail):
                ev = fs.events(TAIL_FILE_EVENTS)
                self.changes.append(ev)
                lo, hi = int(ev["lsn"][0].as_py()), int(ev["lsn"][-1].as_py())
                name = f"{lo:012d}-{hi:012d}.json"
                text = gen.debezium_lines(ev)
                with open(os.path.join(self.tail_stage, name), "w",
                          encoding="utf-8") as f:
                    f.write(text)
                self.tail_files.append((name, hi, ev.num_rows, len(text)))

        self.serve_dirs: list[str] = []
        self.serve_events: list[pa.Table] = []
        for r in range(shape.serve_rounds):
            ev = fs.events(SERVE_BATCH_EVENTS)
            self.changes.append(ev)
            self.serve_dirs.append(self._parquet(f"serve{r:03d}", ev))
            self.serve_events.append(ev)

        touched = set()
        for t in self.changes:
            touched.update(zip(t["repo"].to_pylist(), t["path"].to_pylist(),
                               t["commit"].to_pylist()))
        base = self.base.to_pydict()
        self.cold = [k for k in zip(base["repo"], base["path"],
                                    base["commit"]) if k not in touched]
        self.n_keys = fs.n_keys
        self.feed_bytes = (sum(_dir_bytes(os.path.join(root, "in", d))
                               for d in os.listdir(os.path.join(root, "in"))
                               if d not in ("dim",)))

    def _parquet(self, name: str, table: pa.Table,
                 rows_per_file: int = 1 << 20) -> str:
        d = os.path.join(self.root, "in", name)
        gen.write_parquet(table, d, rows_per_file)
        return d

    def lookup_keys(self, n: int) -> list[tuple]:
        """``n`` lookups (a multiple of 3): keys of the latest change batch,
        cold snapshot keys no event touched, and keys never generated."""
        k = n // 3
        ev = self.changes[-1]
        recent = list(zip(ev["repo"].to_pylist(), ev["path"].to_pylist(),
                          ev["commit"].to_pylist()))
        step = max(1, len(recent) // k)
        hot = [recent[i] for i in range(0, step * k, step)]
        cstep = max(1, len(self.cold) // k)
        cold = [self.cold[i * cstep] for i in range(k)]
        ids = np.arange(k, dtype=np.int64) + self.n_keys
        repos, paths, commits, _ = self.keyspace.keys(ids)
        return hot + cold + list(zip(repos, paths, commits))


def _to_trigger_phase() -> float:
    """Seconds from now (at least 0.1) to the next wall-clock instant at
    ``LANDING_PHASE_S`` into a ``TRIGGER_GRID_S`` period."""
    t = time.time()
    wait = (LANDING_PHASE_S - t) % TRIGGER_GRID_S
    return wait if wait >= 0.1 else wait + TRIGGER_GRID_S


def _dim_table() -> pa.Table:
    """Repo dimension: nine in ten repos have a row (inner-join misses)."""
    idx = [i for i in range(gen.N_REPOS) if i % 10 != 3]
    return pa.table({"repo": [f"org{i % 53}/repo{i}" for i in idx],
                     "owner": [f"team{i % 17}" for i in idx]})


def _dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fns in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dp, f)) for f in fns)
    return total


class Run:
    """One benchmark run: stages, correctness gate, counters."""

    def __init__(self, root: str, inputs: Inputs, shape: Shape):
        self.root = root
        self.inp = inputs
        self.shape = shape
        self.tracer = None
        self.fold = oracle.Fold()
        self.m: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.extra: dict[str, float] = {}
        self.views = None

    def _span(self, name, **attrs):
        if self.tracer is None:
            return _NoSpan()
        return self.tracer.span(name, **attrs)

    def check(self, ok: bool, what: str, n: int = 1, bad: int = 1) -> None:
        """Count ``n`` attempted operations, ``bad`` of them failed unless
        ``ok``."""
        self.attempted += n
        if not ok:
            self.failed += bad
            self.failures.append(what)

    def stages(self) -> list:
        s = self.shape
        out = [self.load]
        if s.bulk_events:
            out.append(self.bulk)
        if s.tail_scheduled:
            out.append(self.tail)
        if s.serve_rounds:
            out.append(self.serve)
        return [*out, self.lookups, self.scan, self.full_syncs]

    # -------------------------------------------------------------- stages
    def setup(self):
        """Set up ``SETUP_CYCLES`` times, each in a fresh JVM, and keep the
        last; ``setup_s`` is the median cycle.  A cycle is JVM and session
        start and the empty starting tables.  It runs no query: the first
        one costs ~2.6 s whatever it is (even ``SELECT 1``), and three
        cold cycles with it did not fit the run-time budget; that cost
        falls in the untimed ``load``."""
        from datax_spark import session
        from datax_spark.cdc.runner import create_repo_table
        from datax_spark.lake.table import LakeTable
        from pyspark.sql import types as T

        totals, sessions = [], []
        for cycle in range(SETUP_CYCLES):
            if cycle:
                stop_jvm()
                shutil.rmtree(base)
            base = os.path.join(self.root, f"lake{cycle}")
            t0 = time.perf_counter()
            spark = session.get_session("perfbench", cores=CORES)
            t1 = time.perf_counter()
            spark.sparkContext.setLogLevel("ERROR")
            fact = create_repo_table(spark, os.path.join(base, "fact"))
            dim = None
            if self.shape.serve_rounds:
                dim = LakeTable.create(
                    spark, os.path.join(base, "dim"),
                    schema=T.StructType([T.StructField(c, T.StringType())
                                         for c in DIM_COLS]),
                    key_cols=["repo"])
            totals.append(time.perf_counter() - t0)
            sessions.append(t1 - t0)
        self.spark, self.fact, self.dim, self.base = spark, fact, dim, base
        self.m["setup_s"] = statistics.median(totals)
        self.extra["session.get_session.s"] = statistics.median(sessions)
        self.samples["setup_s"] = totals

    def load(self):
        from datax_spark.cdc import runner

        spark = self.spark
        runner.full_sync(self.fact, spark.read.parquet(self.inp.snap_dir))
        self.fold.load(self.inp.base)
        if self.dim is not None:
            runner.full_sync(self.dim, spark.read.parquet(self.inp.dim_dir))

    def bulk(self):
        from datax_spark.cdc import runner

        feed = self.spark.read.parquet(self.inp.bulk_dir)
        t0 = time.perf_counter()
        out = runner.run_incremental(
            self.fact, feed, batch_lsns=self.inp.bulk_batch_lsns)
        dt = time.perf_counter() - t0
        n = self.shape.bulk_batches
        self.check(len(out) == n, f"bulk applied {len(out)} of {n} batches",
                   n=n, bad=n - len(out))
        self.m["ingest_eps"] = self.inp.bulk.num_rows / dt
        self.fold.apply(self.inp.bulk)

    def tail(self):
        from datax_spark.cdc.runner import REPO_SCHEMA
        from datax_spark.streaming import runner as srunner

        inp = self.inp
        feed_dir = os.path.join(self.root, "tail_feed")
        os.makedirs(feed_dir)
        files = inp.tail_files
        applied: list[tuple[float, int, int]] = []  # (t, watermark, rows)
        wm = [0]

        def on_batch(lineage):
            wm[0] = max(wm[0], *lineage["shard_lsns"].values())
            applied.append((time.perf_counter(), wm[0], lineage["rows"]))

        def land(i: int) -> None:
            # copy under a hidden name, stamp an increasing mtime (the file
            # source orders by it), then rename into view atomically
            name = files[i][0]
            tmp = os.path.join(feed_dir, "." + name)
            shutil.copyfile(os.path.join(inp.tail_stage, name), tmp)
            ns = time.time_ns() + i * 1_000_000
            os.utime(tmp, ns=(ns, ns))
            os.replace(tmp, os.path.join(feed_dir, name))

        def visible_at(lsn: int, deadline: float) -> float:
            while True:
                for t, w, _ in applied:
                    if w >= lsn:
                        return t
                tail._check()
                if time.perf_counter() > deadline:
                    raise Failed(f"tail did not apply lsn {lsn} in time")
                time.sleep(0.005)

        P = TAIL_PRIMERS
        n_s, n_b = self.shape.tail_scheduled, self.shape.tail_backlog
        tail = srunner.run_continuous(
            self.spark, feed_dir, self.fact, max_files_per_trigger=1,
            feed_format="debezium-json", payload=REPO_SCHEMA,
            on_batch=on_batch)
        try:
            for i in range(P):
                land(i)
                visible_at(files[i][1], time.perf_counter() + 60)
            start = time.perf_counter() + _to_trigger_phase()
            due = [start + i * TAIL_PERIOD_S for i in range(n_s)]
            late: list[float] = []
            feeder_err: list[BaseException] = []

            def feeder():
                try:
                    for i in range(n_s):
                        while (left := due[i] - time.perf_counter()) > 0:
                            time.sleep(min(0.005, left))
                        land(P + i)
                        late.append(time.perf_counter() - due[i])
                except BaseException as e:  # re-raised on the main thread
                    feeder_err.append(e)

            th = threading.Thread(target=feeder, name="perfbench-feeder")
            th.start()
            try:
                fresh = [visible_at(files[P + i][1], due[i] + 60) - due[i]
                         for i in range(n_s)]
            finally:
                th.join(timeout=120)
            if feeder_err:
                raise feeder_err[0]
            t_back = time.perf_counter()
            for i in range(P + n_s, P + n_s + n_b):
                land(i)
            done = visible_at(files[-1][1], t_back + 120)
        finally:
            tail.stop()
        n = len(files)
        self.check(len(applied) == n,
                   f"tail applied {len(applied)} batches for {n} files",
                   n=n, bad=abs(n - len(applied)))
        self._freshness(fresh)
        # the backlog drain is the tail's catch-up rate
        self.m["ingest_eps"] = sum(f[2] for f in files[P + n_s:]) / (
            done - t_back)
        self.samples["backlog_batch_t"] = [t for t, _, _ in applied[-n_b:]]
        self.samples["feeder_late_s"] = late
        self.extra["sources.debezium.bytes_per_event"] = (
            sum(f[3] for f in files) / sum(f[2] for f in files))
        self.extra["streaming.runner.batches"] = len(applied)
        self.extra["streaming.runner.events_per_batch"] = (
            sum(r for _, _, r in applied) / len(applied))
        for ev in inp.changes:
            self.fold.apply(ev)

    def serve(self):
        from datax_spark.cdc.apply import CdcApplier
        from datax_spark.lake import aggview, joinview

        spark, inp = self.spark, self.inp
        agg = aggview.create_agg_view(
            self.fact, os.path.join(self.base, "agg"), dims=["lang"])
        join = joinview.create_join_view(
            self.fact, self.dim, os.path.join(self.base, "join"),
            on={"repo": "repo"})
        self.views = (agg, join)
        applier = CdcApplier(self.fact)
        fresh, applies = [], []
        for r in range(self.shape.serve_rounds):
            batch = spark.read.parquet(inp.serve_dirs[r])
            t0 = time.perf_counter()
            lineage = applier.apply_batch(batch, f"u{r}")
            t1 = time.perf_counter()
            aggview.refresh_agg_view(self.fact, agg)
            joinview.refresh_join_view(self.fact, self.dim, join)
            fresh.append(time.perf_counter() - t0)
            applies.append(t1 - t0)
            self.check(lineage is not None, f"serve upsert u{r} skipped")
            self.fold.apply(inp.serve_events[r])
        self._freshness(fresh)
        self.samples["upsert_s"] = applies
        self.verify_views()

    def lookups(self):
        keys = self.inp.lookup_keys(self.shape.lookups)
        xs = [self._lookup(k) for k in keys]
        self.samples["lookup_s"] = xs
        self.m["lookup_p50_s"] = statistics.median(xs)

    def scan(self):
        want = self.fold.checksum()
        times = []
        for _ in range(SCANS):
            t0 = time.perf_counter()
            with self._span("lake.table.read", kind="scan"):
                got = oracle.spark_checksum(self.fact.read())
            times.append(time.perf_counter() - t0)
            self.check(got == want, f"fact checksum {got} != fold {want}")
        self.samples["scan_s"] = times
        self.m["scan_s"] = statistics.median(times)

    def full_syncs(self):
        """``LOADS`` timed full syncs of the base snapshot into new tables,
        each checked.  They run last, on a JVM the workload has warmed:
        the load at the start of a run is the coldest work in it, and a
        ~1 s operation on the JVM's warming curve spread 25% between runs.
        The metric is their median rate."""
        from datax_spark.cdc import runner

        base = oracle.Fold()
        base.load(self.inp.base)
        want = base.checksum()
        rates = []
        for i in range(LOADS):
            t = runner.create_repo_table(
                self.spark, os.path.join(self.base, f"load{i}"))
            snap = self.spark.read.parquet(self.inp.snap_dir)
            t0 = time.perf_counter()
            runner.full_sync(t, snap)
            rates.append(self.inp.base.num_rows / (time.perf_counter() - t0))
            got = oracle.spark_checksum(t.read())
            self.check(got == want, f"full sync {i}: {got} != {want}")
        self.samples["full_sync_eps"] = rates
        self.m["full_sync_eps"] = statistics.median(rates)

    # ------------------------------------------------------------- helpers
    # Medians only: a run has 6-12 samples of each, and a higher percentile
    # needs about ten samples beyond it to be steady.  The samples are
    # logged for anyone who wants the tail.
    def _freshness(self, xs: list[float]) -> None:
        self.samples["freshness_s"] = xs
        self.m["freshness_p50_s"] = statistics.median(xs)

    def _lookup(self, key: tuple) -> float:
        where = [("repo", "=", key[0]), ("path", "=", key[1]),
                 ("commit", "=", key[2])]
        if self.tracer is not None:
            plan = self.fact.scan_plan(where=where)
            self.samples.setdefault("files_kept_ratio", []).append(
                plan["files_kept"] / max(1, plan["files_total"]))
        t0 = time.perf_counter()
        with self._span("lake.table.read", kind="lookup"):
            rows = self.fact.read(where=where).collect()
        dt = time.perf_counter() - t0
        want = self.fold.state.get(key)
        got = [(r["lang"], r["content"]) for r in rows]
        self.check(got == ([want] if want is not None else []),
                   f"lookup {key} returned {len(got)} rows")
        return dt

    def verify_views(self):
        """Each view must equal a one-shot recompute from the fold."""
        from pyspark.sql import functions as F

        agg, join = self.views
        got = {r["lang"]: int(r["n_rows"]) for r in agg.read().collect()}
        self.check(got == self.fold.lang_counts(),
                   "aggregate view differs from recompute")
        owners = dict(zip(self.inp.dim["repo"].to_pylist(),
                          self.inp.dim["owner"].to_pylist()))
        n, total = 0, 0
        for (r, p, c), (lang, content) in self.fold.state.items():
            if r in owners:
                n += 1
                total += oracle.row_hash(r, p, c, f"{lang}|{owners[r]}",
                                         content)
        view = join.read().withColumn(
            "lang", F.concat_ws("|", F.col("lang"), F.col("owner")))
        self.check(oracle.spark_checksum(view) == (n, total),
                   "join view differs from recompute")

    def space(self):
        stats = self.fact.file_stats()
        data = _dir_bytes(self.fact.data_dir)
        self.extra["lake.table.write_amp"] = data / self.inp.feed_bytes
        self.extra["lake.table.space_amp"] = data / max(1, stats["bytes"])
        self.extra["lake.table.delta_files_at_end"] = stats["delta_files"]

    def peak_rss(self):
        import resource

        jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle
                      .current().pid())
        hwm_kb = 0
        with open(f"/proc/{jvm_pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    hwm_kb = int(line.split()[1])
        own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        self.extra["spark.peak_rss_mb"] = (hwm_kb + own_kb) / 1024


def stop_jvm() -> None:
    """Stop Spark and wait for its JVM to exit: closing the gateway's stdin
    makes it exit, taking its executor-side children with it.  The next
    ``get_session`` then starts a fresh JVM."""
    try:
        from pyspark import SparkContext
        from pyspark.sql import SparkSession
    except ImportError:
        return
    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


class _NoSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False
