"""One job of each workload, run through the program's public entry points.

`batch_job` is the backfill path (backfill and wide_text): `full_pipeline` →
`fan_out` → read back → `combined_aggregates`. `resumed_job` is the skewed_job
path: `jobs/run_pipeline.main` crashes after two sink commits, then resumes
with the same job id. Both return (result, timings); the result is what
`oracle.check` compares, the timings are wall seconds of the program calls.
"""

from __future__ import annotations

import contextlib
import io
import json
import shutil
import time

CRASH_AFTER = 2
CRASH_MESSAGE = f"simulated crash after {CRASH_AFTER} sink commits"


def batch_job(spark, sf_dir: str, out_dir: str) -> tuple[dict, dict]:
    from beats_spark.pipeline import combined_aggregates, full_pipeline
    from beats_spark.routing import fan_out

    t0 = time.perf_counter()
    fan_out(full_pipeline(spark, sf_dir), out_dir)
    sink_aggs, rollups = combined_aggregates(spark.read.parquet(out_dir))
    aggs = [r.asDict() for r in sink_aggs.collect()]
    n_rollups = rollups.count()
    wall = time.perf_counter() - t0
    spark.catalog.clearCache()  # drop the mid-grain persist between jobs
    shutil.rmtree(out_dir, ignore_errors=True)
    return {"aggs": aggs, "rollups": n_rollups}, {"wall_s": wall}


def run_pipeline_main(argv: list[str]) -> dict | None:
    """`jobs/run_pipeline.main(argv)` with its stdout JSON parsed.

    Returns None for the injected crash; any other exception propagates."""
    from jobs.run_pipeline import main

    out = io.StringIO()
    try:
        with contextlib.redirect_stdout(out):
            main(argv)
    except RuntimeError as e:
        if str(e) != CRASH_MESSAGE:
            raise
        return None
    return json.loads(out.getvalue().strip().splitlines()[-1])


def resumed_job(spark, sf_dir: str, out_dir: str, job_id: str) -> tuple[dict, dict]:
    argv = ["--input", sf_dir, "--output", out_dir, "--job-id", job_id]
    t0 = time.perf_counter()
    crashed = run_pipeline_main(argv + ["--fail-after", str(CRASH_AFTER)])
    t1 = time.perf_counter()
    if crashed is not None:
        raise RuntimeError("run_pipeline did not crash at --fail-after")
    out = run_pipeline_main(argv)
    t2 = time.perf_counter()
    shutil.rmtree(out_dir, ignore_errors=True)
    result = {
        "aggs": out["aggregates"],
        "rollups": out["n_conversations"],
        "sink_rows": out["sinks"],
    }
    return result, {"wall_s": t2 - t0, "resume_s": t2 - t1}


def passes_per_job(workload: str) -> int:
    """Pipeline passes in one job: a skewed_job job is the crashed run and the
    resumed one."""
    return 2 if workload == "skewed_job" else 1


def run_job(workload: str, spark, sf_dir: str, out_dir: str, job_id: str):
    if workload == "skewed_job":
        return resumed_job(spark, sf_dir, out_dir, job_id)
    return batch_job(spark, sf_dir, out_dir)
