"""Seeded, oracle-checked benchmark of the transcript pipeline.

Run from the repo root:

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

The seed builds the workload's `events.parquet` (cached per workload, seed
and scale under `.bench_work/inputs/`) and its DuckDB oracle, outside any
timed region. The program then runs on local[<affinity cores>] in this one
client process, one job at a time (a closed loop with one client):

- `--trace 0` starts Spark (the cold start, then five in-JVM restarts),
  runs one warm-up job and then jobs back to back for `--seconds` and at
  least MIN_TIMED_PASSES pipeline passes, checking each against the oracle.
  It prints the end-to-end metrics.
- `--trace 1` runs the warm-up job, restarts Spark with an uncompressed event
  log and runs every layer under its own span (see spans.py), then restarts
  without the log and runs two untraced jobs, the second one the reference
  for the trace's coverage and overhead. It prints the per-layer metrics.

Stdout ends with one JSON line {"correct", "attempted", "failed", "metrics"}
holding the metrics BENCHMARK.json declares for the mode. The line before it
is the full record: host context, input properties, every job, every metric
with its unit (also `turns_per_s`, `fail_ratio` and, on skewed_job,
`resume_s`) and, traced, the spans. The record is also written under
`.bench_work/records/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
WARM_RESTARTS = 5
# pipeline passes timed at least, however long --seconds is: how many jobs
# fit into --seconds depends on the host's load, and a job's CPU time falls
# with each pass as the JIT warms up, so a fixed count keeps runs comparable
MIN_TIMED_PASSES = 2
DRIVER_MEM = "2g"
# units of the metrics only the record carries; BENCHMARK.json has the rest
RECORD_UNITS = {
    "turns_per_s": "turns/s", "setup_wall_s": "s", "session.cold_start_s": "s",
    "fail_ratio": "ratio", "timed_jobs": "count", "resume_s": "s",
}

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    import gen

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size relative to the workload's standard size")
    return p.parse_args(argv)


def _check_program() -> None:
    """Exit 2 unless the program under test is importable from ROOT."""
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401  (host probes live there)
        import beats_spark.pipeline  # noqa: F401
        import jobs.run_pipeline  # noqa: F401
    except ImportError as e:
        _log(f"program not found under {ROOT}: {e}")
        sys.exit(2)


def _prepare_env() -> None:
    """local[<affinity cores>] and every temporary file inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)  # what earlier runs left behind
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a fixed heap, not the program's 24g default, which is more memory than
    # a 15 GB host has; assigned, so the caller's environment cannot move it
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    # java.io.tmpdir also takes the native libraries the JVM unpacks; no
    # hsperfdata file, which HotSpot always writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip())
    tempfile.tempdir = None


def prepare_input(workload: str, seed: int, scale: float) -> tuple[str, dict]:
    """The input directory for (workload, seed, scale) and its properties
    and oracle, generated on first use."""
    import gen
    import oracle

    sf_dir = os.path.join(WORK, "inputs", f"{workload}-s{seed}-x{scale:g}")
    meta = os.path.join(sf_dir, "input.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return sf_dir, json.load(f)
    shutil.rmtree(sf_dir, ignore_errors=True)
    table = gen.generate(workload, seed, scale)
    gen.write(table, sf_dir)
    expected = oracle.compute(os.path.join(sf_dir, "events.parquet", "*.parquet"))
    shape = gen.conv_shape(table)
    shape["mean_text_bytes"] = expected.pop("mean_text_bytes")
    shape["non_ascii_share"] = expected.pop("non_ascii_share")
    info = {"shape": shape, "oracle": expected}
    with open(meta + ".tmp", "w") as f:
        json.dump(info, f)
    os.replace(meta + ".tmp", meta)  # written last: a partial input is never reused
    return sf_dir, info


def _start(extra_conf: dict | None = None):
    """get_spark + the first tiny job; returns (spark, get_spark_s, first_job_s)."""
    from beats_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", extra_conf=extra_conf)
    t1 = time.perf_counter()
    spark.range(10).count()
    return spark, t1 - t0, time.perf_counter() - t1


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM and wait for every child process to exit."""
    import procs
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    procs.wait_tree_gone()


class Runner:
    """Runs checked jobs of one workload and keeps their tallies."""

    def __init__(self, workload: str, seed: int, sf_dir: str, info: dict) -> None:
        self.workload = workload
        self.seed = seed
        self.sf_dir = sf_dir
        self.info = info
        self.out_dir = os.path.join(WORK, "out")
        self.jobs: list[dict] = []
        self.attempted = 0
        self.failed = 0

    def check(self, label: str, result: dict) -> bool:
        import oracle

        self.attempted += 1
        problems = oracle.check(result, self.info["oracle"])
        if problems:
            self.failed += 1
            _log(f"{label}: result differs from the oracle: {problems[:5]}")
        return not problems

    def job(self, spark, label: str) -> dict | None:
        """One job; its timings and CPU, or None if it raised or mismatched."""
        import procs
        import workloads

        shutil.rmtree(self.out_dir, ignore_errors=True)
        cpu0 = procs.tree_cpu_s()
        try:
            result, timing = workloads.run_job(
                self.workload, spark, self.sf_dir, self.out_dir,
                job_id=f"s{self.seed}-{label}")
        except Exception:
            self.attempted += 1
            self.failed += 1
            _log(f"{label} raised:\n{traceback.format_exc()}")
            return None
        timing["cpu_s"] = procs.tree_cpu_s() - cpu0
        ok = self.check(label, result)
        self.jobs.append({"label": label, "ok": ok, **timing})
        return timing if ok else None


def run_e2e(runner: Runner, seconds: float) -> dict:
    import procs
    import workloads
    from bench import _cpu_delta_pct, _cpu_stat

    spark, get_s, first_s = _start()
    setups, setups_cpu = [], []
    for _ in range(WARM_RESTARTS):
        spark.stop()
        cpu0 = procs.tree_cpu_s()
        spark, g, f = _start()
        setups.append(g + f)
        setups_cpu.append(procs.tree_cpu_s() - cpu0)
    runner.job(spark, "warmup")
    timed = []
    min_jobs = -(-MIN_TIMED_PASSES // workloads.passes_per_job(runner.workload))
    cpu_before = _cpu_stat()
    with procs.PeakRss() as rss:
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or len(timed) < min_jobs:
            timing = runner.job(spark, f"job{len(timed)}")
            timed.append(timing)
    host = _cpu_delta_pct(cpu_before, _cpu_stat())
    _shutdown(spark)

    ok = [t for t in timed if t]
    turns = runner.info["shape"]["turns"]
    metrics = {
        "setup_s": statistics.median(setups_cpu),
        "setup_wall_s": statistics.median(setups),
        "session.cold_start_s": get_s + first_s,
        "peak_rss_mb": rss.peak_mb,
        "fail_ratio": runner.failed / runner.attempted,
        "timed_jobs": len(ok),
    }
    if ok:
        metrics["turns_per_s"] = statistics.median(turns / t["wall_s"] for t in ok)
        metrics["cpu_s_per_mturn"] = sum(t["cpu_s"] for t in ok) / (turns * len(ok)) * 1e6
        if "resume_s" in ok[0]:
            metrics["resume_s"] = statistics.median(t["resume_s"] for t in ok)
    return {"metrics": metrics, "host_timed": host, "rss_at_peak": rss.at_peak}


def run_traced(runner: Runner) -> dict:
    import eventlog
    import spans
    from bench import _cpu_delta_pct, _cpu_stat

    spark, get_s, first_s = _start()
    runner.job(spark, "warmup")

    log_dir = os.path.join(WORK, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    spark.stop()
    spark, _, _ = _start({**EVENT_LOG_CONF, "spark.eventLog.dir": "file://" + log_dir})
    # the restart forks new Python workers; start them before any span
    spans.warm_python_workers(spark)
    tracer = spans.Tracer(spark, f"{runner.workload}-s{runner.seed}-{int(time.time())}")
    cpu_before = _cpu_stat()
    counts = spans.profile(runner.workload, spark, runner.sf_dir,
                           os.path.join(WORK, "profile"), tracer)
    host = _cpu_delta_pct(cpu_before, _cpu_stat())
    spark.stop()  # flushes the event log
    # the untraced reference runs last, as the second job of a fresh session,
    # so that neither JIT warm-up nor a new session's first job inflates it
    spark, _, _ = _start()
    runner.job(spark, "untraced.first")
    untraced = runner.job(spark, "untraced")
    _shutdown(spark)
    runner.check("profile.aggregate", counts["aggregates"])
    runner.check("profile.checkpoint", counts["resumed"])

    (log_file,) = os.listdir(log_dir)
    by_span = eventlog.read(os.path.join(log_dir, log_file))
    s = tracer.seconds()
    c = {name: by_span.get(sp.id, eventlog.SpanCounters())
         for name, sp in tracer.last().items()}
    lineage = counts["lineage"]
    crash_resume = s["checkpoint.crash"] + s["checkpoint.resume"]
    if runner.workload == "skewed_job":
        # run_pipeline observes its prefix and aggregates after the resume
        checkpoint_self = crash_resume - s["metrics"] - s["aggregate"]
        path = ("derive", "parse", "enrich", "route", "metrics", "checkpoint", "aggregate")
        traced_wall = crash_resume
    else:
        checkpoint_self = crash_resume - s["route"]
        path = ("derive", "parse", "enrich", "route", "write", "aggregate")
        traced_wall = s["write"] + s["aggregate"]
    self_s = {
        "derive": s["derive"],
        "parse": s["parse"] - s["derive"],
        "enrich": s["enrich"] - s["parse"],
        "route": s["route"] - s["enrich"],
        "metrics": s["metrics"] - s["route"],
        "write": s["write"] - s["route"],
        "checkpoint": checkpoint_self,
        "aggregate": s["aggregate"],
    }
    metrics = {
        "derive.self_s": self_s["derive"],
        "derive.shuffle_bytes": c["derive"].shuffle_bytes,
        "derive.task_skew": c["derive"].task_skew(),
        "parse.self_s": self_s["parse"],
        "parse.python_s": c["parse"].sql["time to run Python workers"] / 1000,
        "parse.arrow_bytes_in": c["parse"].sql["data sent to Python workers"],
        "parse.arrow_bytes_out": c["parse"].sql["data returned from Python workers"],
        "parse.match_ratio": 1 - lineage["parse"]["flagged"] / lineage["parse"]["rows"],
        "parse.task_skew": c["parse"].task_skew(),
        "enrich.self_s": self_s["enrich"],
        "enrich.broadcast_bytes": c["enrich"].broadcast_bytes,
        "route.self_s": self_s["route"],
        "route.rows_out": lineage["route"]["rows"],
        "route.sinks": counts["sinks"],
        "write.self_s": self_s["write"],
        "write.bytes": counts["write_bytes"],
        "write.files": counts["write_files"],
        "write.spill_bytes": max(0, c["write"].spill_bytes - c["route"].spill_bytes),
        "checkpoint.self_s": self_s["checkpoint"],
        "checkpoint.resume_s": s["checkpoint.resume"],
        "checkpoint.resume_rows": counts["resume_rows"],
        "aggregate.self_s": self_s["aggregate"],
        "aggregate.mid_rows": counts["mid_rows"],
        "aggregate.shuffle_bytes": c["aggregate"].shuffle_bytes,
        "aggregate.spill_bytes": c["aggregate"].spill_bytes,
        "metrics.observe_s": self_s["metrics"],
        "session.get_spark_s": get_s,
        "session.first_job_s": first_s,
    }
    if untraced:
        # prefix differences telescope, so Σ self over the path equals
        # traced_wall: coverage is 1 + overhead_s / the reference's wall
        metrics["trace.coverage"] = sum(self_s[k] for k in path) / untraced["wall_s"]
        metrics["trace.overhead_s"] = traced_wall - untraced["wall_s"]
    return {"metrics": metrics, "host_timed": host, "spans": tracer.to_json()}


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(argv)
    _check_program()
    _prepare_env()
    import procs

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update(RECORD_UNITS)

    sf_dir, info = prepare_input(args.workload, args.seed, args.scale)
    host = {**procs.host_context(ROOT), "driver_mem": DRIVER_MEM}
    runner = Runner(args.workload, args.seed, sf_dir, info)
    if args.trace:
        out = run_traced(runner)
    else:
        out = run_e2e(runner, args.seconds)
    host.update(out.pop("host_timed", {}))

    metrics = out.pop("metrics")
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    record = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale,
        "trace": args.trace, "seconds": args.seconds, "input": info["shape"],
        "host": host, "jobs": runner.jobs, "metrics": metrics,
        "units": {k: units[k] for k in metrics}, **out,
    }
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json"
    with open(os.path.join(WORK, "records", name), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"record": record}))
    if missing:
        _log(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": runner.failed == 0 and not missing,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {
            m["name"]: {"value": metrics.get(m["name"], 0.0), "unit": m["unit"]}
            for m in declared
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
