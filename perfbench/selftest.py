#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the library). From the
checkout root:

    python3 perfbench/selftest.py

1. Two traced runs with one seed report identical count metrics (jobs,
   tasks, bytes, rows, manifest rows, files written, verified pairs, prune
   ratio) for every span. The ``spark.*`` totals are left out: they cover
   however many operations the time box allowed.
2. Two untraced runs with different seeds see different inputs (the input
   digest in the run record differs), and every output check passes on
   both.

Each run is a subprocess of ``perfbench/run.py``; the whole test takes
about 8 runs' time. Exits 1 on any failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "curation")
SEEDS = (7, 8)
SECONDS = 10
COUNT_SUFFIXES = (
    ".jobs",
    ".tasks",
    "_bytes",
    ".rows_in",
    ".rows_out",
    ".manifest_rows",
    ".files_written",
    ".verified_pairs",
    ".prune_ratio",
)


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(HERE, "run.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", str(SECONDS),
            "--trace", str(trace),
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    record, result = out.stdout.strip().splitlines()[-2:]
    return json.loads(record), json.loads(result)


def counts(result: dict) -> dict:
    return {
        k: v["value"]
        for k, v in result["metrics"].items()
        if k.endswith(COUNT_SUFFIXES) and not k.startswith("spark.")
    }


def main() -> int:
    failures = []
    a, b = SEEDS
    for w in WORKLOADS:
        _, r1 = run(w, a, 1)
        _, r2 = run(w, a, 1)
        c1, c2 = counts(r1), counts(r2)
        diff = {k: (c1[k], c2.get(k)) for k in c1 if c1[k] != c2.get(k)}
        print(f"{w}: {len(c1)} count metrics, traced twice with seed {a}: "
              f"{'identical' if not diff else f'DIFFER {diff}'}")
        if diff:
            failures.append(f"{w} counts differ")
        rec_a, res_a = run(w, a, 0)
        rec_b, res_b = run(w, b, 0)
        same_inputs = rec_a["detail"]["inputs"] == rec_b["detail"]["inputs"]
        ok = all(r["correct"] and r["failed"] == 0 for r in (res_a, res_b, r1, r2))
        print(f"{w}: seeds {a}/{b} inputs {rec_a['detail']['inputs']}/{rec_b['detail']['inputs']}, "
              f"all checks {'pass' if ok else 'FAIL'}")
        if same_inputs:
            failures.append(f"{w} inputs do not depend on the seed")
        if not ok:
            failures.append(f"{w} output checks failed")
    print("selftest:", "ok" if not failures else "FAILED " + "; ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
