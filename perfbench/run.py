"""The repository's benchmark: one closed-loop client (this process's
single driver thread) runs a workload's op list pass after pass on
``local[nproc]`` through the engine's own ``session.get_session``.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 5 --trace 0

Workloads: ``curation`` and ``offers_etl`` (listed in BENCHMARK.json), and
``relational``, which selftest.py uses but BENCHMARK.json leaves out because
a third workload does not fit the run budget (see layers.json). Each run
generates its inputs from ``--seed`` in a child interpreter, times the
engine's set-up, runs one cold first pass whose outputs are checked (DuckDB
oracles for query keys; the generator's rows for staged offers), then warm
passes until ``--seconds`` have passed (at least one).

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` warm passes alternate untraced
and traced, the metrics are the per-layer ones read from Spark's status
stores (see spans.py), and the spans are written to
``.perfbench_work/traces/``. Any failed op, output mismatch or failed input
generation makes the exit code non-zero. Run from a checkout of the
repository; everything the run writes stays under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("relational", "curation", "offers_etl")

# A fixed driver heap small enough to fill up in every run keeps peak
# memory comparable across runs and hosts (the engine's default is 24g).
DRIVER_MEMORY = "1g"


def benchmark_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """End-to-end and per-layer metric names -> units, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


# Counters summed over a pass's spans (every span carries status counts).
SUMMED = (
    "stage.jobs", "stage.count", "stage.tasks", "stage.tasks_failed",
    "stage.task_run_s", "stage.task_cpu_s", "stage.gc_s",
    "stage.shuffle_write_mb", "stage.shuffle_read_mb", "stage.spill_mb",
    "sql.executions", "operators.exchanges", "python.nodes", "python.start_s",
    "python.init_s", "python.run_s", "python.sent_mb", "python.returned_mb",
    "catalog.scan_files", "catalog.scan_mb", "catalog.scan_rows",
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- process tree ------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (driver
    Python, the JVM, Python workers), sampled from /proc. Each process
    counts its proportional share (Pss) of pages it shares, so the pages a
    forked Python worker shares with its daemon are counted once."""

    def __init__(self, interval: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.interval = interval  # reading Pss walks page tables: keep it rare
        self.peak_bytes = 0
        self.peak_by_process: dict[str, int] = {}
        self._halt = threading.Event()

    def sample(self) -> None:
        pid = os.getpid()
        by_process: dict[str, int] = {}
        for p in [pid, *descendants(pid)]:
            try:
                with open(f"/proc/{p}/comm", encoding="ascii", errors="replace") as fh:
                    name = "driver" if p == pid else fh.read().strip()
                with open(f"/proc/{p}/smaps_rollup", encoding="ascii") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            by_process[name] = by_process.get(name, 0) + int(line.split()[1]) * 1024
                            break
            except OSError:  # the process has exited
                pass
        total = sum(by_process.values())
        if total > self.peak_bytes:
            self.peak_bytes, self.peak_by_process = total, by_process

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


# --- set-up and tear-down ----------------------------------------------------


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``work`` and
    pin the session's core count and driver heap."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: no hsperfdata files in the system /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def engine_setup():
    """registry.load_all + session.get_session + ensure_package_shipped,
    each timed from a fresh interpreter's first engine import."""
    t0 = time.perf_counter()
    from e2e_etl_pipeline_spark.registry import load_all

    load_all()
    t1 = time.perf_counter()
    from e2e_etl_pipeline_spark.session import get_session

    spark = get_session("perfbench")
    t2 = time.perf_counter()
    from e2e_etl_pipeline_spark.shipping import ensure_package_shipped

    ensure_package_shipped(spark)
    t3 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {
        "registry.load_all_s": t1 - t0,
        "session.get_session_s": t2 - t1,
        "shipping.ship_s": t3 - t2,
    }


def engine_stop(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for every descendant
    process (JVM, Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while (left := descendants(os.getpid())) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in left:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def run_child(cmd: list[str], what: str, timeout: float) -> dict:
    """Run a child interpreter; fail loudly unless it exits 0 and its last
    stdout line is JSON."""
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=timeout)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{what} failed with exit code {proc.returncode}")
    lines = proc.stdout.strip().splitlines()
    if not lines:
        raise RuntimeError(f"{what} printed no result")
    return json.loads(lines[-1])


# --- measurement -------------------------------------------------------------


class NullTracer:
    """Stands in for spans.Tracer in untraced passes: records nothing."""

    pass_no = None

    def new_trace(self) -> None:
        pass

    def span(self, name: str, spark: bool = False, **attrs):
        return contextlib.nullcontext()


class Runner:
    def __init__(self, workload, tracer, cores: int) -> None:
        self.workload = workload
        self.tracer = tracer
        self.cores = cores
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.passes: list[dict] = []

    def run_pass(self, no: int, first: bool, traced: bool) -> dict:
        tr = self.tracer if traced else NullTracer()
        if traced:
            tr.stores.skip()
        tr.pass_no = no
        ops = self.workload.ops(collect=first)
        times: dict[str, float] = {}
        failed: set[str] = set()
        t0 = time.perf_counter()
        with tr.span("pass"):
            for name, run in ops:
                tr.new_trace()
                s = time.perf_counter()
                try:
                    with tr.span("op", op=name):
                        run(tr)
                except Exception:  # an op failure is counted, not fatal
                    failed.add(name)
                    self.problems.append(f"pass {no} {name}: raised")
                    traceback.print_exc()
                times[name] = time.perf_counter() - s
        wall = time.perf_counter() - t0
        if first or self.workload.check_every_pass:
            for name, probs in self.workload.check().items():
                if probs:
                    failed.add(name)
                    self.problems.append(f"pass {no} {name}: {'; '.join(probs)}")
        rec = {"no": no, "wall": wall, "ops": times, "traced": traced,
               "first": first, "failed": sorted(failed), **self.workload.pass_outputs()}
        self.workload.between_passes()
        self.attempted += len(ops)
        self.failed += len(failed)
        self.passes.append(rec)
        return rec


def pass_metrics(p: dict, spans: list[dict], cores: int, result_rows: int) -> dict[str, float]:
    """Per-layer metrics of one traced pass from its spans."""
    m: dict[str, float] = dict.fromkeys(
        (*SUMMED, "stage.task_skew", "stage.peak_exec_mem_mb",
         "queries.construct_jobs", "queries.driver_gap_s",
         "sources.raw_zone.files_pruned_frac"), 0.0)
    dur: dict[str, float] = {}
    for s in spans:
        dur[s["name"]] = dur.get(s["name"], 0.0) + s["end"] - s["start"]
        c = s.get("counts", {})
        for k in SUMMED:
            m[k] += c.get(k, 0.0)
        for k in ("stage.task_skew", "stage.peak_exec_mem_mb"):
            m[k] = max(m[k], c.get(k, 0.0))
        if s["name"] == "queries.construct":
            m["queries.construct_jobs"] += c.get("stage.jobs", 0.0)
        if s["name"] == "spark.execute":
            m["queries.driver_gap_s"] += c.get("spark.driver_gap_s", 0.0)
    execute_wall = sum(
        dur.get(n, 0.0) for n in (
            "spark.execute", "sources.raw_zone.write_raw",
            "pipeline.offers.offers_to_staging_csv",
        )
    )
    m["stage.core_busy_frac"] = m["stage.task_run_s"] / (execute_wall * cores) if execute_wall else 0.0
    m["catalog.rows_per_result"] = m["catalog.scan_rows"] / result_rows if result_rows else 0.0
    m["queries.construct_s.pass"] = dur.get("queries.construct", 0.0)
    m["sources.raw_zone.write_s"] = dur.get("sources.raw_zone.write_raw", 0.0)
    m["sources.raw_zone.read_latest_s"] = dur.get("sources.raw_zone.read_latest", 0.0)
    m["pipeline.offers.parse_offers_s"] = dur.get("pipeline.offers.parse_offers", 0.0)
    m["pipeline.offers.stage_csv_s"] = dur.get("pipeline.offers.offers_to_staging_csv", 0.0)
    m["pipeline.offers.written_mb"] = p.get("written_mb", 0.0)
    m["pipeline.offers.rows_staged"] = p.get("rows_staged", 0)
    stage_ops = [s for s in spans if s["name"] == "pipeline.offers.offers_to_staging_csv"]
    if stage_ops and p.get("zone_files"):
        read = sum(s.get("counts", {}).get("catalog.scan_files", 0.0) for s in spans
                   if s["name"] in ("sources.raw_zone.read_latest",
                                    "pipeline.offers.offers_to_staging_csv"))
        m["sources.raw_zone.files_pruned_frac"] = 1 - read / (len(stage_ops) * p["zone_files"])
    steps = sum(s["end"] - s["start"] for s in spans if s["name"] not in ("op", "pass"))
    m["trace.op_self_s"] = dur.get("op", 0.0) - steps
    m["trace.spans"] = len(spans)
    return m


def per_layer(runner: Runner, tracer, setup_times: dict) -> dict[str, float]:
    """Per-layer metrics: medians over the warm traced passes, plus the
    cold first pass's Python-worker start-up and construction jobs."""
    by_pass: dict[int, list[dict]] = {}
    for s in tracer.spans:
        by_pass.setdefault(s["no"], []).append(s)
    results = sum(runner.workload.result_rows.values())
    first, warm = runner.passes[0], runner.passes[1:]
    traced = [p for p in warm if p["traced"]]
    per_pass = [pass_metrics(p, by_pass[p["no"]], runner.cores, results) for p in traced]
    out: dict[str, float] = dict(setup_times)
    for k in per_pass[0]:
        out[k] = statistics.median(m[k] for m in per_pass)
    cold = pass_metrics(first, by_pass[first["no"]], runner.cores, results)
    for k in ("python.start_s", "python.init_s", "queries.construct_jobs"):
        out[f"first_pass.{k}"] = cold[k]
    construct = [s["end"] - s["start"] for p in traced for s in by_pass[p["no"]]
                 if s["name"] == "queries.construct"]
    out["queries.construct_s.p50"] = statistics.median(construct) if construct else 0.0
    out["trace.pass_s"] = statistics.median(p["wall"] for p in traced)
    out["trace.untraced_pass_s"] = statistics.median(p["wall"] for p in warm if not p["traced"])
    out["trace.overhead_s"] = out["trace.pass_s"] - out["trace.untraced_pass_s"]
    out["ops.failed_frac"] = runner.failed / runner.attempted
    return out


def make_workload(name: str, spark, data_dir: str, seed: int, inputs: dict):
    from workloads import CURATION_KEYS, RELATIONAL_KEYS, OffersWorkload, QueryWorkload

    if name == "relational":
        return QueryWorkload(spark, data_dir, RELATIONAL_KEYS, seed, shuffle=True)
    if name == "curation":
        return QueryWorkload(spark, data_dir, CURATION_KEYS, seed, shuffle=False)
    return OffersWorkload(spark, data_dir, inputs)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "e2e_etl_pipeline_spark", "__init__.py")):
        log(f"engine package e2e_etl_pipeline_spark not found under {ROOT}")
        return 2

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)  # no stale inputs or outputs
    data_dir = os.path.join(work, "data")
    configure_env(work)

    phases = {"start": time.perf_counter()}
    inputs = run_child(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--out", data_dir],
        "input generation", timeout=120,
    )
    rss = RssSampler()
    rss.start()
    phases["generated"] = time.perf_counter()
    spark, setup_times = engine_setup()
    try:
        sys.path.insert(0, HERE)
        from spans import StatusStores, Tracer

        tracer = Tracer(StatusStores(spark)) if args.trace else NullTracer()
        runner = Runner(
            make_workload(args.workload, spark, data_dir, args.seed, inputs),
            tracer, int(os.environ["SPARK_GRAFT_CPUS"]),
        )
        phases["set up"] = time.perf_counter()
        runner.run_pass(0, first=True, traced=bool(args.trace))
        phases["first pass"] = time.perf_counter()
        t0 = time.perf_counter()
        no = 1
        min_passes = 2 if args.trace else 1  # traced runs: one untraced, one traced
        while no <= min_passes or time.perf_counter() - t0 < args.seconds:
            runner.run_pass(no, first=False, traced=bool(args.trace) and no % 2 == 0)
            no += 1
        phases["warm passes"] = time.perf_counter()
    finally:
        engine_stop(spark)
        rss.stop()
    phases["stopped"] = time.perf_counter()
    marks = list(phases.items())
    log("phases: " + " ".join(f"{b[0]}=+{b[1] - a[1]:.1f}s" for a, b in zip(marks, marks[1:])))

    for p in runner.passes:
        ops = " ".join(f"{k}={v:.2f}" for k, v in p["ops"].items())
        log(f"pass {p['no']} traced={p['traced']} wall={p['wall']:.2f}s {ops}")
    first = runner.passes[0]
    warm = [p for p in runner.passes[1:] if not p["traced"]]
    op_times = [t for p in warm for t in p["ops"].values()]
    log(f"{args.workload} seed={args.seed}: {len(warm)} warm passes, "
        f"{len(op_times)} op samples, set-up {setup_times}, peak memory by process "
        f"(MB) {({k: round(v / 2**20) for k, v in rss.peak_by_process.items()})}")
    for p in runner.problems:
        log(f"FAILED {p}")

    end_to_end, layers = benchmark_metrics()
    if args.trace:
        values = per_layer(runner, tracer, setup_times)
        metrics = {k: {"value": values[k], "unit": u} for k, u in layers.items()}
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        out = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
        with open(out, "w", encoding="utf-8") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "inputs": inputs,
                       "self_s": tracer.self_times(), "passes": runner.passes,
                       "per_layer": values, "spans": tracer.spans}, fh)
        log(f"spans written to {out}")
    else:
        deciles = statistics.quantiles(op_times, n=10, method="inclusive")
        values = {
            "setup_s": sum(setup_times.values()),
            "first_pass_s": first["wall"],
            "pass_s": statistics.median(p["wall"] for p in warm),
            "op_s.p50": deciles[4],
            "op_s.p90": deciles[8],
            "peak_rss_mb": rss.peak_bytes / 2**20,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in end_to_end.items()}
    ok = runner.failed == 0
    print(json.dumps({"correct": ok, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
