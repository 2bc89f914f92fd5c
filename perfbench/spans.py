"""Spans around calls into the program's layers, and the layer profile.

A span is (name, id, parent, run id, start, end). Opening one sets the Spark
job description to a JSON object naming it, so every job the calls submit is
tagged in the event log; spans stay in memory until the run ends.

The profile times each layer by prefix differencing: the cumulative prefixes
derive, +parse, +enrich, +route are each forced by a `noop` write, and a
layer's self time is its prefix's (shortest) time minus the previous one's. The
write, checkpoint and metrics layers are alternatives on top of the route
prefix, so their self time is their wall time minus the route prefix's; the
metrics and write spans run as often as the prefixes and count their
shortest time too. The aggregate span, which reads back what the last write
wrote, and the checkpoint's crash and resume run once.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from dataclasses import asdict, dataclass

from workloads import CRASH_AFTER, CRASH_MESSAGE, run_pipeline_main

# the prefixes, metrics and write run this many times; their shortest time
# counts. A third round would add ~17 s to a run that must end within 180 s.
PREFIX_ROUNDS = 2


@dataclass
class Span:
    name: str
    id: int
    parent: int | None
    run: str
    start: float
    end: float | None = None

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._open[-1].id if self._open else None
        s = Span(name, len(self.spans) + 1, parent, self.run_id, time.time())
        self.spans.append(s)
        self._open.append(s)
        self.sc.setJobDescription(json.dumps(
            {"span": name, "id": s.id, "parent": parent, "run": self.run_id,
             "start": s.start}))
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            outer = self._open[-1] if self._open else None
            self.sc.setJobDescription(None if outer is None else json.dumps(
                {"span": outer.name, "id": outer.id, "parent": outer.parent,
                 "run": self.run_id, "start": outer.start}))

    def seconds(self) -> dict[str, float]:
        """Shortest duration of each span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = min(out.get(s.name, s.seconds), s.seconds)
        return out

    def last(self) -> dict[str, Span]:
        """The last span of each name."""
        return {s.name: s for s in self.spans}

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_python_workers(spark) -> None:
    """Run the parse UDF on a tiny frame, one partition per core, so that each
    core has a live Python worker."""
    from beats_spark.pipeline import parse_stage

    n = spark.sparkContext.defaultParallelism
    _noop(parse_stage(spark.range(0, 64 * n, 1, n).selectExpr("CAST(id AS STRING) AS text")))


def profile(workload: str, spark, sf_dir: str, work_dir: str, tracer: Tracer) -> dict:
    """Run every layer under its own span (the noop prefixes, metrics and
    write PREFIX_ROUNDS times, aggregate and the checkpoint's spans once);
    returns what the layers report: observe() lineage, written files,
    aggregates and the resumed checkpoint's result.

    The write and aggregate spans are backfill's path (`fan_out`, then
    aggregates of the written sinks); the checkpoint spans are skewed_job's
    path on skewed_job (`jobs/run_pipeline.main` crashed and resumed) and
    `checkpointed_fan_out` crashed and resumed elsewhere."""
    from pyspark.sql import functions as F

    from beats_spark.checkpoint import checkpointed_fan_out, read_manifest
    from beats_spark.data.transcripts import load_transcripts
    from beats_spark.metrics import PipelineMetrics, with_standard_metrics
    from beats_spark.pipeline import (
        combined_aggregates,
        conv_rollups,
        enrich_stage,
        full_pipeline,
        parse_stage,
        route_stage,
        sink_aggregates,
    )
    from beats_spark.routing import fan_out

    counts: dict = {}
    sinks_dir = os.path.join(work_dir, "fan_out")
    for _ in range(PREFIX_ROUNDS):
        with tracer.span("derive"):
            _noop(load_transcripts(spark, sf_dir))
        with tracer.span("parse"):
            _noop(parse_stage(load_transcripts(spark, sf_dir)))
        with tracer.span("enrich"):
            _noop(enrich_stage(parse_stage(load_transcripts(spark, sf_dir))))
        with tracer.span("route"):
            _noop(full_pipeline(spark, sf_dir))

        # the observe() lineage jobs/run_pipeline.py attaches, on the same prefix
        with tracer.span("metrics"):
            m = PipelineMetrics()
            t = m.observe(load_transcripts(spark, sf_dir), "scan")
            parsed = with_standard_metrics(m, parse_stage(t), "parse")
            enriched = m.observe(enrich_stage(parsed), "enrich")
            routed = m.observe(
                route_stage(enriched), "route",
                deadletter=F.sum(F.when(F.col("_sink") == "deadletter", 1).otherwise(0)),
            )
            _noop(routed)
            counts["lineage"] = m.report()

        with tracer.span("write"):
            fan_out(full_pipeline(spark, sf_dir), sinks_dir)

    part_files = [
        os.path.join(d, f)
        for d, _, files in os.walk(sinks_dir)
        for f in files
        if f.startswith("part-")
    ]
    counts["write_files"] = len(part_files)
    counts["write_bytes"] = sum(os.path.getsize(p) for p in part_files)
    counts["sinks"] = sum(1 for d in os.listdir(sinks_dir) if d.startswith("_sink="))

    with tracer.span("aggregate"):
        written = spark.read.parquet(sinks_dir)
        if workload == "skewed_job":
            aggs = sink_aggregates(written).collect()
            n_rollups = conv_rollups(written).count()
        else:
            sink_aggs, rollups = combined_aggregates(written)
            aggs = sink_aggs.collect()
            n_rollups = rollups.count()
            spark.catalog.clearCache()
    counts["aggregates"] = {"aggs": [r.asDict() for r in aggs], "rollups": n_rollups}
    counts["mid_rows"] = sum(r["n_convs"] for r in aggs)
    shutil.rmtree(sinks_dir, ignore_errors=True)

    ckpt_dir = os.path.join(work_dir, "checkpoint")
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    job_id = f"{tracer.run_id}-ckpt"
    if workload == "skewed_job":
        # the workload's own path: jobs/run_pipeline.py crashed, then resumed
        argv = ["--input", sf_dir, "--output", ckpt_dir, "--job-id", job_id]
        with tracer.span("checkpoint.crash"):
            if run_pipeline_main(argv + ["--fail-after", str(CRASH_AFTER)]) is not None:
                raise RuntimeError("run_pipeline did not crash at --fail-after")
        before = read_manifest(ckpt_dir)["sinks"]
        with tracer.span("checkpoint.resume"):
            out = run_pipeline_main(argv)
        after = out["sinks"]
        counts["resumed"] = {"aggs": out["aggregates"], "rollups": out["n_conversations"],
                             "sink_rows": after}
    else:
        with tracer.span("checkpoint.crash"):
            try:
                checkpointed_fan_out(full_pipeline(spark, sf_dir), ckpt_dir, job_id,
                                     fail_after=CRASH_AFTER)
            except RuntimeError as e:
                if str(e) != CRASH_MESSAGE:
                    raise
            else:
                raise RuntimeError("checkpointed_fan_out did not crash at fail_after")
        before = read_manifest(ckpt_dir)["sinks"]
        with tracer.span("checkpoint.resume"):
            manifest = checkpointed_fan_out(full_pipeline(spark, sf_dir), ckpt_dir, job_id)
        after = {k: v["rows"] for k, v in manifest["sinks"].items()}
        counts["resumed"] = {**counts["aggregates"], "sink_rows": after}
    counts["resume_rows"] = sum(after.values()) - sum(v["rows"] for v in before.values())
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    return counts
