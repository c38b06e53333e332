"""Benchmark entry point.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 30 --trace 0

Run from the repository root.  Prints progress on stderr and, as the last
line of stdout, one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics (engine entry points wrapped by ``tracer.py``) with ``--trace 1``.
Exits non-zero, printing no result, when the engine cannot be imported or
a stage raises; a failed correctness check is reported as
``"correct": false`` with exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REF_SECONDS = 30

E2E = {
    "setup_s": "s", "full_sync_eps": "rows/s", "ingest_eps": "events/s",
    "freshness_p50_s": "s", "lookup_p50_s": "s", "scan_s": "s",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=REF_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the raw spans (JSON) here")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import stages

    if args.workload not in stages.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(stages.WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        import datax_spark
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(datax_spark.__file__).startswith(ROOT + os.sep):
        print(f"engine imported from {datax_spark.__file__}, not from the "
              f"checkout at {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep Spark's scratch space and every temp file inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={os.path.join(work, 'tmp')}").strip()
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    try:
        result = _run(args, stages, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        stages.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
        _log("stopped")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _run(args, stages, work: str) -> dict:
    shape = stages.scaled(stages.WORKLOADS[args.workload], args.seconds,
                          REF_SECONDS)
    t0 = time.perf_counter()
    inputs = stages.Inputs(work, args.seed, shape)
    _log(f"inputs generated in {time.perf_counter() - t0:.1f}s: {shape}")

    tracer = None
    run = stages.Run(work, inputs, shape)
    run.setup()
    _log(f"setup cycles done, setup_s={run.m['setup_s']:.2f}")
    if args.trace:
        import tracer as tracing

        tracer = tracing.Tracer(run.spark)
        tracing.install(tracer)
        run.tracer = tracer
    t_meas = time.perf_counter()
    j0 = tracer.jobs() if tracer is not None else 0
    for stage in run.stages():
        t = time.perf_counter()
        stage()
        _log(f"{stage.__name__} {time.perf_counter() - t:.2f}s")
    measured = time.perf_counter() - t_meas
    if tracer is not None:
        run.extra["stage_jobs"] = tracer.jobs() - j0
    run.space()
    run.peak_rss()
    if tracer is not None:
        tracer.unwrap()
        if args.spans:
            tracer.dump(args.spans)
    for f in run.failures:
        _log(f"CHECK FAILED: {f}")
    _log(f"measured {measured:.1f}s; host {json.dumps(host_shape(args))}")
    if args.trace:
        metrics = layer_metrics(run, tracer, measured)
        units = {k: u for k, (_, u) in metrics.items()}
        values = {k: v for k, (v, _) in metrics.items()}
    else:
        values = {k: run.m[k] for k in E2E}
        units = E2E
    _log("samples " + json.dumps({k: [round(x, 4) for x in v]
                                  for k, v in run.samples.items()}))
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in values},
    }


def layer_metrics(run, tracer, wall: float) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the spans of the measured stages.  Every
    workload reports the same names; a layer a workload leaves idle reads
    0 calls and 0% busy there."""
    import tracer as tracing

    spans = [s for s in tracer.spans if "end" in s]
    self_t = tracing.self_times(spans)
    by: dict[str, list[dict]] = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def calls(name):
        return len(by.get(name, []))

    def total(name, field):
        return sum(s[field] for s in by.get(name, []))

    def per_call(name, field):
        return total(name, field) / max(1, calls(name))

    def med(name, kind=None):
        xs = [s["end"] - s["start"] for s in by.get(name, [])
              if kind is None or s.get("kind") == kind]
        return statistics.median(xs)

    def med_self(name):
        return statistics.median(self_t[s["id"]] for s in by[name])

    def busy(name):
        return 100.0 * sum(self_t[s["id"]] for s in by.get(name, [])) / wall

    commits = calls("lake.catalog.commit")
    ex = run.extra
    out: dict[str, tuple[float, str]] = {
        "session.get_session.s": (ex["session.get_session.s"], "s"),
        "sources.debezium.bytes_per_event":
            (ex.get("sources.debezium.bytes_per_event", 0.0), "B/event"),
        "streaming.runner.batches":
            (ex.get("streaming.runner.batches", 0), "count"),
        "streaming.runner.events_per_batch":
            (ex.get("streaming.runner.events_per_batch", 0.0), "events"),
        "streaming.runner.outside_apply_share":
            (_outside_apply(run.samples.get("backlog_batch_t", []),
                            by.get("cdc.apply.apply_batch", [])), "ratio"),
    }
    for name in ("cdc.apply.apply_batch", "lake.merge.merge_into"):
        out[f"{name}.calls"] = (calls(name), "count")
        out[f"{name}.self_s"] = (med_self(name), "s")
        out[f"{name}.jobs"] = (per_call(name, "jobs"), "jobs/call")
    for name in ("cdc.apply.filter_already_applied", "lake.table.compact",
                 "lake.aggview.refresh_agg_view",
                 "lake.joinview.refresh_join_view"):
        out[f"{name}.calls"] = (calls(name), "count")
        out[f"{name}.busy_pct"] = (busy(name), "%")
        out[f"{name}.jobs"] = (per_call(name, "jobs"), "jobs/call")
    out["lake.table.manifest.calls_per_commit"] = (
        calls("lake.table.manifest") / commits, "calls/commit")
    out["lake.table.Manifest.from_json.s"] = (
        med("lake.table.Manifest.from_json"), "s")
    for name in ("lake.table.Manifest.from_json",
                 "lake.table.Manifest.to_json"):
        out[f"{name}.bytes_per_commit"] = (total(name, "bytes") / commits,
                                           "B/commit")
    out["lake.table.write_amp"] = (ex["lake.table.write_amp"], "ratio")
    out["lake.table.space_amp"] = (ex["lake.table.space_amp"], "ratio")
    out["lake.table.delta_files_at_end"] = (
        ex["lake.table.delta_files_at_end"], "count")
    reads = by["lake.table.read"]
    for kind in ("lookup", "scan"):
        ks = [s for s in reads if s["kind"] == kind]
        out[f"lake.table.read.{kind}_jobs"] = (
            sum(s["jobs"] for s in ks) / len(ks), "jobs/call")
    out["lake.table.read.s"] = (med("lake.table.read", "lookup"), "s")
    out["lake.table.scan_plan.files_kept_ratio"] = (
        statistics.mean(run.samples["files_kept_ratio"]), "ratio")
    out["lake.catalog.commit.calls"] = (commits, "count")
    out["lake.catalog.commit.s"] = (med("lake.catalog.commit"), "s")
    out["lake.catalog.commit.bytes"] = (
        per_call("lake.catalog.commit", "bytes"), "B/call")
    out["lake.catalog.read_manifest.calls"] = (
        calls("lake.catalog.read_manifest"), "count")
    out["lake.catalog.read_manifest.bytes"] = (
        per_call("lake.catalog.read_manifest", "bytes"), "B/call")
    out["lake.catalog.conflicts"] = (
        sum(1 for s in by["lake.catalog.commit"]
            if s.get("error") == "CommitConflict"), "count")
    # JVM VmHWM + Python maxrss: heap growth follows GC timing, so this
    # swings 20-40% between runs and is not an end-to-end metric
    out["spark.peak_rss_mb"] = (ex["spark.peak_rss_mb"], "MB")
    # every job of the measured stages, per commit
    out["spark.jobs_per_commit"] = (run.extra["stage_jobs"] / commits,
                                    "jobs/commit")
    return out


def _outside_apply(batch_t: list[float], applies: list[dict]) -> float:
    """Share of the tail's back-to-back backlog batches' wall spent outside
    ``apply_batch``: trigger loop, file listing, the replay-guard filter,
    offset commits.  ``batch_t`` are the backlog's ``on_batch`` times."""
    wall = inside = 0.0
    for a, b in zip(batch_t, batch_t[1:]):
        wall += b - a
        inside += sum(s["end"] - s["start"] for s in applies
                      if s["start"] >= a and s["end"] <= b)
    return (wall - inside) / wall if wall else 0.0


def host_shape(args) -> dict:
    mem_kb = 0
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True,
                                timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"nproc": os.cpu_count(), "mem_total_kb": mem_kb,
            "master": "local[2]", "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "python": platform.python_version(),
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "git_commit": commit}


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}",
          file=sys.stderr, flush=True)


if __name__ == "__main__":
    sys.exit(main())
