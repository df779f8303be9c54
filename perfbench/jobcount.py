#!/usr/bin/env python3
"""Check the benchmark's job-group attribution against a known count.

Runs one registered query once (construction plus a noop materialization)
under one span, with the Spark event log on, and prints the jobs, stages
and tasks the event log charges to that span, next to what Spark's
statusTracker reports for the same job group (the method behind the
``plans/<round>/<query>_jobs_*.txt`` records). Usage, from the checkout root:

    SPARK_GRAFT_CPUS=4 python3 perfbench/jobcount.py dedup_survivors

``--sf-dir`` defaults to the sf0.1 tables ``bench.py`` reads.

This is a one-off check, not a workload: the registered queries read the
synthetic test tables from ``--sf-dir`` and some write scratch state of
their own outside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _event_log_counts(log_dir: str, group: str) -> dict:
    """Jobs, declared stages and tasks (statusTracker's view: every stage
    id of every job, skipped or not, with its task count) and the tasks
    that actually ran, for one job group."""
    (path,) = [os.path.join(log_dir, p) for p in os.listdir(log_dir)]
    jobs, stages, ran = set(), {}, 0
    stage_job = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get("spark.jobGroup.id") != group:
                    continue
                jobs.add(ev["Job ID"])
                for info in ev.get("Stage Infos", []):
                    stages[(ev["Job ID"], info["Stage ID"])] = info["Number of Tasks"]
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd" and stage_job.get(ev["Stage ID"]) in jobs:
                ran += 1
    return {"jobs": len(jobs), "stages": len(stages), "tasks": sum(stages.values()), "tasks_run": ran}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("query")
    ap.add_argument("--sf-dir", help="directory of the test tables (default: bench.py's)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from common import Context
    import gen
    import spans as SP

    sf_dir = args.sf_dir or gen.data_dir()

    ctx = Context(ROOT, "jobcount", 0, 0, trace=True)
    try:
        spark = ctx.start_spark()
        from demo_bigdata_spark.suites import all_queries

        fn = all_queries()[args.query]
        spark.range(1000).selectExpr("sum(id) s").write.format("noop").mode("overwrite").save()
        t0 = time.perf_counter()
        with ctx.tracer.span(f"query.{args.query}") as sp:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        tracker = spark.sparkContext.statusTracker()
        group = f"pb{sp['id']}"
        jids = tracker.getJobIdsForGroup(group)
        st_stages = st_tasks = 0
        for j in jids:
            info = tracker.getJobInfo(j)
            st_stages += len(info.stageIds)
            st_tasks += sum(
                si.numTasks for si in map(tracker.getStageInfo, info.stageIds) if si is not None
            )
        ctx.close()
        counts = _event_log_counts(ctx.path("eventlog"), group)
        log = SP.read_event_log(ctx.path("eventlog"))
        SP.attribute(ctx.tracer, log)
        print(
            json.dumps(
                {
                    "query": args.query,
                    "SPARK_GRAFT_CPUS": ctx.cores,
                    "event_log": counts,
                    "span": {k: sp[k] for k in ("jobs", "tasks", "shuffle_bytes", "driver_s")},
                    "status_tracker": {"jobs": len(jids), "stages": st_stages, "tasks": st_tasks},
                    "wall_s": wall,
                }
            )
        )
    finally:
        ctx.close()
        ctx.cleanup()
    return 0


if __name__ == "__main__":
    sys.exit(main())
