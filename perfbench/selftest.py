"""Self-tests of the benchmark (not of the engine).

    python3 perfbench/selftest.py [--seconds 1]

Runs traced benchmark runs and checks that:

* two traced runs with one seed give identical counts (jobs, stages, tasks,
  SQL executions, exchanges, Python nodes, scan files, offers staged);
* a new seed changes offers_etl's inputs but neither the inputs nor the
  counts of relational and curation;
* queries.construct_jobs is 0 on every workload and every python.* metric
  is 0 on relational;
* every run is correct and exits 0.

Each run is a full benchmark run (about a minute); the whole test takes
roughly ten minutes on 4 cores. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNTS = (
    "stage.jobs", "stage.count", "stage.tasks", "sql.executions",
    "operators.exchanges", "python.nodes", "catalog.scan_files",
    "pipeline.offers.rows_staged",
)
PYTHON = ("python.nodes", "python.start_s", "python.init_s", "python.run_s",
          "python.sent_mb", "python.returned_mb")


def traced_run(workload: str, seed: int, seconds: float) -> tuple[dict, dict]:
    """One traced run: (per-layer metric values, generator input summary)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"FAIL {workload} seed {seed}: exit code {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"] or result["failed"]:
        raise SystemExit(f"FAIL {workload} seed {seed}: incorrect result {result}")
    trace = os.path.join(ROOT, ".perfbench_work", "traces", f"{workload}-seed{seed}.json")
    with open(trace, encoding="utf-8") as fh:
        inputs = json.load(fh)["inputs"]
    values = {k: v["value"] for k, v in result["metrics"].items()}
    print(f"{workload} seed {seed}: " + " ".join(f"{k}={values[k]:g}" for k in COUNTS), flush=True)
    return values, inputs


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        raise SystemExit(1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seconds", type=float, default=1.0)
    args = ap.parse_args()
    for workload in ("relational", "curation", "offers_etl"):
        a, a_in = traced_run(workload, 1, args.seconds)
        b, b_in = traced_run(workload, 1, args.seconds)
        c, c_in = traced_run(workload, 2, args.seconds)
        counts = {k: a[k] for k in COUNTS}
        check(counts == {k: b[k] for k in COUNTS}, f"{workload}: same seed, same counts")
        check(a_in["digest"] == b_in["digest"], f"{workload}: same seed, same inputs")
        check(a["queries.construct_jobs"] == 0 == c["queries.construct_jobs"],
              f"{workload}: no Spark job during query construction")
        if workload == "offers_etl":
            check(a_in["digest"] != c_in["digest"], f"{workload}: new seed, new inputs")
        else:
            check(a_in["digest"] == c_in["digest"], f"{workload}: new seed, same inputs")
            check(counts == {k: c[k] for k in COUNTS}, f"{workload}: new seed, same counts")
        if workload == "relational":
            check(all(a[k] == 0 for k in PYTHON), f"{workload}: python.* is 0")
    print("all benchmark self-tests passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
