"""DuckDB oracle for one generated input, and the check of a job's result.

The transcript derivation and the routing selector are the repo's own SQL
twins (`transcripts_select("duckdb")`, `queries._sink_case_sql()`,
`queries._TOOL_CALL_SQL`), so the oracle restates nothing the engine defines.
"""

from __future__ import annotations

import duckdb

from beats_spark.data.transcripts import transcripts_select
from beats_spark.queries import _TOOL_CALL_SQL, _sink_case_sql


def compute(events_glob: str) -> dict:
    """Expected per-(sink, role) aggregates, per-sink rows and rollup count,
    plus the text properties of the derived transcripts."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_glob}')")
        con.execute(
            f"CREATE TEMP TABLE routed AS SELECT *, {_sink_case_sql()} AS _sink "
            f"FROM ({transcripts_select('duckdb')})"
        )
        aggs = con.execute(
            f"""SELECT _sink, role, count(*), CAST(sum({_TOOL_CALL_SQL}) AS BIGINT),
                       count(DISTINCT conv_id)
                FROM routed WHERE _sink IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2"""
        ).fetchall()
        sink_rows = con.execute(
            "SELECT _sink, count(*) FROM routed WHERE _sink IS NOT NULL GROUP BY 1 ORDER BY 1"
        ).fetchall()
        rollups, text_bytes, non_ascii = con.execute(
            """SELECT count(DISTINCT conv_id), avg(strlen(text)),
                      avg(CASE WHEN strlen(text) <> length(text) THEN 1 ELSE 0 END)
               FROM routed WHERE _sink IS NOT NULL"""
        ).fetchone()
    finally:
        con.close()
    return {
        "aggs": [list(r) for r in aggs],
        "sink_rows": {s: n for s, n in sink_rows},
        "rollups": rollups,
        "mean_text_bytes": round(float(text_bytes), 2),
        "non_ascii_share": round(float(non_ascii), 4),
    }


def check(result: dict, oracle: dict) -> list[str]:
    """Mismatches between a job's result and the oracle; empty when equal.

    `result` has "aggs" (rows with _sink, role, turn_count, tool_call_count,
    n_convs), "rollups" (conversation count) and, where the job reports
    committed sinks, "sink_rows" ({sink: rows})."""
    want = {(s, r): (t, c, n) for s, r, t, c, n in oracle["aggs"]}
    got = {
        (a["_sink"], a["role"]): (a["turn_count"], a["tool_call_count"], a["n_convs"])
        for a in result["aggs"]
    }
    problems = [
        f"aggregate {k}: got {got.get(k)} want {want.get(k)}"
        for k in sorted(set(want) | set(got), key=str)
        if got.get(k) != want.get(k)
    ]
    if result["rollups"] != oracle["rollups"]:
        problems.append(f"rollups: got {result['rollups']} want {oracle['rollups']}")
    if "sink_rows" in result and result["sink_rows"] != oracle["sink_rows"]:
        problems.append(f"sink rows: got {result['sink_rows']} want {oracle['sink_rows']}")
    return problems
