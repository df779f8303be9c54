#!/usr/bin/env python3
"""Per-change benchmark of demo_bigdata_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Builds nothing: it imports the library from the checkout, starts one Spark
session on ``local[$SPARK_GRAFT_CPUS]`` (default: every core), reads the
sf0.1 test tables ``bench.py`` reads and lets ``--seed`` choose how they
arrive, keeps its working state under ``.perfbench/`` in the checkout, runs
one closed-loop client for ``--seconds`` (and at least a fixed number of
operations), checks every output outside the timed regions, and prints as
its last stdout line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced run (Spark event log on, one job group per span). The
line before it carries the run record (seed, cores, versions, commit) and
the raw per-operation timings. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

from ingest import PANELS
from relational import QUERIES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "curation")

# CPU seconds of the run's process tree (Python driver, Spark JVM, Python
# workers): on a shared host these repeat where wall seconds, even with the
# host's stolen share taken out, do not (see README, "End-to-end metrics").
# Wall seconds are in the run record.
E2E_UNITS = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "read_cpu_s": "s",
}

# (metric, span, statistic): the median of the statistic over the span's
# occurrences outside warm-up, replays and the benchmark's own checks, in
# the first MIN_OPS operations and the fixed post-loop phase.
SPAN_METRICS: list[tuple[str, str, str]] = (
    [
        ("session.get_spark.wall_s", "session.get_spark", "wall_s"),
        ("session.warmup.wall_s", "session.warmup", "wall_s"),
    ]
    + [
        (f"sources.snapshots.read_table.{k}", "sources.snapshots.read_table", k)
        for k in ("wall_s", "driver_s", "jobs", "prune_ratio")
    ]
    + [
        (f"serving.panel.{p}.{k}", f"serving.panel.{p}", k)
        for p in PANELS
        for k in ("wall_s", "jobs", "tasks")
    ]
    + [(f"serving.list_events.{k}", "serving.list_events", k) for k in ("wall_s", "jobs")]
    + [
        (f"operators.ingest.process_raw_events.{k}", "operators.ingest.process_raw_events", k)
        for k in ("wall_s", "rows_in", "rows_out")
    ]
    + [
        (f"sources.snapshots.append_snapshot_epoch.{k}", "sources.snapshots.append_snapshot_epoch", k)
        for k in ("wall_s", "driver_s", "jobs", "files_written", "manifest_rows")
    ]
    + [
        (f"streaming.pipeline.combine_hourly_partial.{k}", "streaming.pipeline.combine_hourly_partial", k)
        for k in ("wall_s", "jobs", "input_bytes")
    ]
    + [
        (f"operators.sketches.append_histogram_batch.{k}", "operators.sketches.append_histogram_batch", k)
        for k in ("wall_s", "jobs")
    ]
    + [
        (f"streaming.pipeline.replay_skip.{k}", "streaming.pipeline.replay_skip", k)
        for k in ("wall_s", "jobs")
    ]
    + [
        (f"operators.dedup.append_dedup_batch.{k}", "operators.dedup.append_dedup_batch", k)
        for k in ("wall_s", "driver_s", "jobs", "tasks", "shuffle_bytes", "verified_pairs")
    ]
    + [
        (f"operators.dedup.{r}.{k}", f"operators.dedup.{r}", k)
        for r in ("read_dedup_survivors", "read_dedup_clusters")
        for k in ("wall_s", "driver_s", "jobs", "tasks")
    ]
    + [
        (f"suites.corpus_pipeline_v6.{k}", "suites.corpus_pipeline_v6", k)
        for k in ("wall_s", "jobs", "tasks", "shuffle_bytes", "exec_cpu_s")
    ]
    + [(f"operators.relational.{q}.wall_s", f"operators.relational.{q}", "wall_s") for q in QUERIES]
    + [
        (f"operators.relational.{k}", "operators.relational", k)
        for k in ("wall_s", "jobs", "tasks", "input_bytes", "shuffle_bytes", "spill_bytes", "exec_cpu_s")
    ]
    + [
        (f"operators.graph.nation_pagerank.{k}", "operators.graph.nation_pagerank", k)
        for k in ("wall_s", "driver_s", "jobs")
    ]
)
WORKLOAD_LAYER_METRICS = (
    "ingest.epoch_growth.first_s",
    "ingest.epoch_growth.last_s",
    "ingest.epoch_growth.ratio",
)
SPARK_METRICS = ("jobs", "tasks", "task_p50_ms", "exec_busy_frac", "gc_s")
TRACE_METRICS = (
    "trace.op_wall_s",
    "trace.read_wall_s",
    "trace.setup_wall_s",
    "trace.overhead_cpu_s",
    "trace.overhead_wall_s",
)
SESSION_METRICS = ("session.peak_rss_mb",)


def per_layer_names() -> list[str]:
    return (
        [m for m, _, _ in SPAN_METRICS]
        + list(WORKLOAD_LAYER_METRICS)
        + [f"spark.{k}" for k in SPARK_METRICS]
        + list(TRACE_METRICS)
        + list(SESSION_METRICS)
    )


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_ratio", ".ratio")):
        return "ratio"
    return "count"


def _environment():
    """Pin the run's environment before pyspark or the library is imported:
    core count, UTC, temp files inside the checkout, library importable by
    Spark's Python workers."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def _baseline_path(ctx) -> str:
    return os.path.join(ctx.state, f"last-{ctx.workload}-seed{ctx.seed}.json")


def _layer_metrics(ctx, res: dict, workload_mod) -> dict:
    from common import median
    import spans as SP

    log = SP.read_event_log(ctx.path("eventlog"))
    tr = ctx.tracer
    SP.attribute(tr, log)
    by_id = {s["id"]: s for s in tr.spans}

    def inside(s, names) -> bool:
        """Whether a strict ancestor of span ``s`` is named in ``names`` or
        is one of the benchmark's own (``bench.*``) spans."""
        p = by_id.get(s["parent"])
        while p is not None:
            if p["name"] in names or p["name"].startswith("bench."):
                return True
            p = by_id.get(p["parent"])
        return False

    def counted(s) -> bool:
        op = s["op"]
        return (
            not s["name"].startswith("bench.")
            and not inside(s, ("session.warmup", "streaming.pipeline.replay_skip"))
            and (op is None or op < workload_mod.MIN_OPS)
        )

    out = {}
    for metric, span, stat in SPAN_METRICS:
        vals = [s[stat] for s in tr.named(span) if counted(s) and stat in s]
        out[metric] = median(vals)
    for m in WORKLOAD_LAYER_METRICS:
        out[m] = res["layers"].get(m, 0.0)
    t0, t1 = ctx.window
    jids = set()
    for s in tr.spans:
        if t0 <= s["start"] <= t1 and not s["name"].startswith("bench.") and not inside(s, ()):
            jids.update(s["own_jobs"])
    tot = SP.spark_totals(log, jids, t1 - t0, ctx.cores)
    for k in SPARK_METRICS:
        out[f"spark.{k}"] = tot[k]
    # every job from the first timed operation on must carry a span's
    # group; one that does not was launched where attribution cannot see
    res["detail"]["unattributed_jobs"] = SP.unattributed_jobs(log, t0)
    if res["detail"]["unattributed_jobs"]:
        res["correct"] = False
    out["trace.op_wall_s"] = res["wall"]["op_s"]
    out["trace.read_wall_s"] = res["wall"]["read_s"]
    out["trace.setup_wall_s"] = ctx.setup_wall_s
    # overhead against the untraced run of the same seed and sources, if
    # one ran in this checkout (the run record says which, or none)
    out["trace.overhead_cpu_s"] = out["trace.overhead_wall_s"] = 0.0
    res["detail"]["overhead_vs"] = None
    last = _baseline_path(ctx)
    if os.path.exists(last):
        with open(last) as f:
            base = json.load(f)
        if base["source_digest"] == ctx.run_info()["source_digest"]:
            out["trace.overhead_cpu_s"] = res["e2e"]["op_cpu_s"] - base["op_cpu_s"]
            out["trace.overhead_wall_s"] = res["wall"]["op_s"] - base["op_wall_s"]
            res["detail"]["overhead_vs"] = base
    if res["detail"]["overhead_vs"] is None:
        print(
            "perfbench: no untraced run of this seed and these sources in this "
            "checkout; trace.overhead_* reported as 0",
            file=sys.stderr,
        )
    os.makedirs(os.path.join(ctx.state, "traces"), exist_ok=True)
    with open(os.path.join(ctx.state, "traces", f"{ctx.workload}-seed{ctx.seed}.json"), "w") as f:
        json.dump(
            [{k: v for k, v in s.items() if k != "own_jobs"} for s in tr.spans],
            f,
            default=str,
        )
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "demo_bigdata_spark", "__init__.py")):
        print(
            f"perfbench: the library package demo_bigdata_spark/ is not in {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    t_start = time.perf_counter()
    _environment()

    from common import Context, calibration_s, host_cpu, peak_rss_mb

    host0, calib0 = host_cpu(), calibration_s()
    ctx = Context(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        ctx.start_spark()
        workload_mod = importlib.import_module(args.workload)
        res = workload_mod.run(ctx)
        res["attempted"] += ctx.op_errors
        res["failed"] += ctx.op_errors
        res["correct"] = res["correct"] and not ctx.op_errors
        rss = peak_rss_mb()
        ctx.close()
        e2e = dict(res["e2e"], setup_s=ctx.setup_s)
        if ctx.trace:
            values = _layer_metrics(ctx, res, workload_mod)
            values["session.peak_rss_mb"] = rss
        else:
            values = e2e
            with open(_baseline_path(ctx), "w") as f:
                json.dump(
                    {
                        "source_digest": ctx.run_info()["source_digest"],
                        "op_cpu_s": e2e["op_cpu_s"],
                        "op_wall_s": res["wall"]["op_s"],
                    },
                    f,
                )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        ctx.close()
        ctx.cleanup()

    units = E2E_UNITS if not ctx.trace else {m: _unit(m) for m in values}
    # how contended the host was: stolen CPU share and a fixed Python
    # loop's time before and after the run (0.02 s on an idle box)
    ticks = [b - a for a, b in zip(host0, host_cpu())]
    res["detail"].update(
        wall_s=time.perf_counter() - t_start,
        host={
            "steal_frac": ticks[7] / max(1, sum(ticks)),
            "calibration_s": [calib0, calibration_s()],
        },
        regions=ctx.regions,
        wall=dict(res["wall"], setup_s=ctx.setup_wall_s),
        setup_parts_s={
            s["name"]: s["wall_s"]
            for s in ctx.tracer.spans
            if s["name"] in ("session.get_spark", "bench.fixture", "session.warmup")
        },
    )
    print(json.dumps({"run": ctx.run_info(), "end_to_end": e2e, "detail": res["detail"]}))
    print(
        json.dumps(
            {
                "correct": bool(res["correct"]),
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": {
                    m: {"value": float(values[m]), "unit": units[m]}
                    for m in (E2E_UNITS if not ctx.trace else per_layer_names())
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
