"""The flagship parse → enrich → route → aggregate DAG over transcripts.

This is the Spark restatement of the Beats data path (SURVEY.md §3.1):
scan → processor program (ordered column transforms) → routing selector →
per-sink fan-out + aggregates. Program order is preserved as column
dependency order; Catalyst fuses the whole parse+enrich stage into one
WholeStageCodegen span around a single Arrow UDF exchange. The aggregate
layer is one mid-grain groupBy at (*keys, conv_id) that the per-sink
counts and the conversation rollups both re-aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from beats_spark.data.lookups import role_lookup_df, tool_lookup_df
from beats_spark.data.transcripts import load_transcripts
from beats_spark.operators import enrich as E
from beats_spark.operators import parse as P
from beats_spark.routing import route

# The grok bank for the three transcript text templates
# (beats_spark/data/transcripts.py). First match wins.
TRANSCRIPT_PATTERNS = [
    # logfmt template
    r"^level=%{LOGLEVEL:level} ts=%{TIMESTAMP_ISO8601:event_time} "
    r"caller=%{NOTSPACE:caller} msg=\"%{DATA:msg}\" value=%{INT:value:long} "
    r"took=%{INT:took_ms:long}ms$",
    # apache-access template
    r"^%{IPV4:client_ip} %{USER:ident} %{USER:auth} \[%{TIMESTAMP_ISO8601:event_time}\] "
    r"\"%{WORD:method} %{URIPATH:path} HTTP/%{NUMBER:http_version}\" "
    r"%{INT:status:int} %{INT:size:long}$",
    # plain prose template
    r"^user %{INT:uid:long} did %{WORD:action} with props %{GREEDYDATA:props_json}$",
]

# Routing rules (first-match-wins; SURVEY.md §2.7). The corrupt→deadletter
# rule implements the dead-letter route (elasticsearch/client.go:490-543).
ROUTING_RULES = [
    {"when": {"contains": {"text": "!!corrupt"}}, "key": "deadletter"},
    {"when": {"equals": {"role": "tool"}}, "key": "sink-tools"},
    {"when": {"regexp": {"text": '(level=ERROR|" 500 )'}}, "key": "sink-errors"},
    {"key": "events-%{[role]}"},
]


def parse_stage(tdf: DataFrame) -> DataFrame:
    """Grok pattern bank over text; failures get flags + stay for routing."""
    return P.grok(tdf, TRANSCRIPT_PATTERNS, field="text", target_prefix="parsed")


def enrich_stage(df: DataFrame) -> DataFrame:
    """Broadcast-join lookups + deterministic id — no shuffle of the fact side."""
    spark = df.sparkSession
    df = E.translate(df, role_lookup_df(spark), "role",
                     defaults={"role_group": "unknown", "priority": 0})
    df = E.translate(df, tool_lookup_df(spark), "tool",
                     defaults={"tool_kind": "none", "billable": False})
    df = E.add_id(df)
    return df


def route_stage(df: DataFrame) -> DataFrame:
    return route(df, ROUTING_RULES)


def full_pipeline(spark: SparkSession, sf_dir: str, replicate: int = 1) -> DataFrame:
    """transcripts → parse → enrich → route; returns the routed event table."""
    return route_stage(
        enrich_stage(parse_stage(load_transcripts(spark, sf_dir, replicate=replicate)))
    )


def is_tool_call() -> Column:
    """The tool-call predicate: the turn names a tool (its SQL twin is
    queries._TOOL_CALL_SQL). Never null, so `.cast("long")` counts it."""
    tool = F.col("tool")
    return tool.isNotNull() & (tool != "") & (tool != "none")


def _mid_grain(df: DataFrame, *keys: str) -> DataFrame:
    """The one scan of the aggregate layer: one row per (*keys, conv_id)
    with its turn count, tool-call count and first/last ts. Every output
    re-aggregates it, so count(DISTINCT conv_id) becomes a plain count of
    mid-grain rows — exact, with no distinct-Expand (that rewrite measured
    1.5× slower at 16 cores; test_plans.py asserts its absence)."""
    return df.groupBy(*keys, "conv_id").agg(
        F.count("*").alias("turn_count"),
        F.sum(is_tool_call().cast("long")).alias("tool_call_count"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


def _per_sink(mid: DataFrame) -> DataFrame:
    return mid.groupBy("_sink", "role").agg(
        F.sum("turn_count").alias("turn_count"),
        F.sum("tool_call_count").alias("tool_call_count"),
        F.count("*").alias("n_convs"),
    )


def _per_conv(mid: DataFrame) -> DataFrame:
    return mid.groupBy("conv_id").agg(
        F.sum("turn_count").alias("n_turns"),
        F.min("first_ts").alias("first_ts"),
        F.max("last_ts").alias("last_ts"),
        F.sum("tool_call_count").alias("total_tool_calls"),
    )


def sink_aggregates(routed: DataFrame) -> DataFrame:
    """Per-sink per-role turn count, tool-call count and conversation count
    (≅ pipeline monitoring counters, publisher/pipeline/monitoring.go:24-179)."""
    return _per_sink(_mid_grain(routed, "_sink", "role"))


def conv_rollups(df: DataFrame) -> DataFrame:
    """Per-conversation turn count, first/last ts and tool-call total. Every
    output is order-free, so no window and no sort (test_plans.py gates
    both): a hot conversation does not serialise into one sorted task."""
    return _per_conv(_mid_grain(df))


def combined_aggregates(written: DataFrame) -> tuple[DataFrame, DataFrame]:
    """sink_aggregates AND conv_rollups from ONE scan of `written`: the
    mid-grain at (_sink, role, conv_id) — ~|sinks|×|roles|×|convs| rows,
    small next to the input — is persisted and both outputs re-aggregate
    it. Callers running repeatedly should clearCache() when done."""
    mid = _mid_grain(written, "_sink", "role").persist()
    return _per_sink(mid), _per_conv(mid)
