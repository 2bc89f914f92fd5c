"""Seeded input generator: one `events.parquet` directory per (workload, seed).

The program under test only ever sees this directory, in the schema of the
repo's `events` test table: (event_id int64, ts timestamp[us], user_id int64,
event_type string, value double, props string). `load_transcripts` derives
one conversation per `user_id`, so the shape of a workload is the
distribution of events over user ids:

- backfill:   uniform conversations of 50-80 turns (mean ~65), short props.
- wide_text:  a tenth of backfill's turns in 200-320-turn conversations, with
              1-4 KB props mixing ASCII and multi-byte UTF-8.
- skewed_job: Zipf conversation lengths (most have 1-3 turns) plus four hot
              conversations holding a quarter of all turns.

Generation is pure numpy/pyarrow and deterministic in (workload, seed, scale).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# turns per workload at scale 1.0
BASE_TURNS = {"backfill": 120_000, "wide_text": 12_000, "skewed_job": 120_000}
WORKLOADS = tuple(BASE_TURNS)

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENT_TYPE_P = [0.35, 0.3, 0.15, 0.1, 0.1]
_TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_MONTH_US = 30 * 86_400 * 1_000_000

# Vocabulary for wide props: ASCII words and 2-, 3- and 4-byte UTF-8 words.
# None contains a quote, backslash, newline or any routing keyword.
_WORDS = (
    "alpha beta gamma delta request response token stream cache batch "
    "partition shuffle commit vector window merge".split()
    + "café naïve über façade smörgåsbord crème brûlée".split()
    + "数据 管道 会话 日志 路由 東京 서울 データ".split()
    + ["😀", "🚀", "🧪", "𝔘𝔫𝔦"]
)


def _take(draw, n_turns: int) -> np.ndarray:
    """Conversation lengths from `draw(size)` until they sum to exactly n_turns
    (the last one is cut short)."""
    parts, remaining = [], n_turns
    while remaining > 0:
        lens = draw(max(64, remaining // 8))
        cut = int(np.searchsorted(np.cumsum(lens), remaining))
        part = lens[: cut + 1].copy()
        part[-1] -= max(0, int(part.sum()) - remaining)
        parts.append(part)
        remaining -= int(part.sum())
    return np.concatenate(parts).astype(np.int64)


def _conv_lengths(workload: str, n_turns: int, rng: np.random.Generator) -> np.ndarray:
    if workload == "backfill":
        return _take(lambda k: rng.integers(50, 81, size=k), n_turns)
    if workload == "wide_text":
        return _take(lambda k: rng.integers(200, 321, size=k), n_turns)
    zipf_w = 1.0 / np.arange(1, 5)
    hot = np.round(n_turns / 4 * zipf_w / zipf_w.sum()).astype(np.int64)
    cold = _take(lambda k: np.minimum(rng.zipf(2.2, size=k), 200),
                 n_turns - int(hot.sum()))
    return np.concatenate([hot, cold])


def _wide_props(n: int, rng: np.random.Generator) -> list[str]:
    """n JSON-ish props of 1-4 KB UTF-8, cut from one seeded word stream."""
    pool_words = rng.choice(np.array(_WORDS, dtype=object), size=200_000)
    pool = " ".join(pool_words)
    # char offsets; byte length runs ~1.3x the char length for this mix
    starts = rng.integers(0, len(pool) - 3200, size=n)
    lens = rng.integers(840, 3000, size=n)
    return ['{"note": "%s"}' % pool[s : s + k] for s, k in zip(starts, lens)]


def generate(workload: str, seed: int, scale: float = 1.0) -> pa.Table:
    """The events table for (workload, seed, scale)."""
    if workload not in BASE_TURNS:
        raise ValueError(f"unknown workload {workload!r}")
    rng = np.random.default_rng([seed, WORKLOADS.index(workload)])
    n = max(200, int(BASE_TURNS[workload] * scale))
    lens = _conv_lengths(workload, n, rng)
    user_ids = rng.permutation(len(lens)).astype(np.int64)
    user_id = np.repeat(user_ids, lens)
    # event ids are shuffled over the rows so role/template/corrupt choices
    # (all keyed on event_id in the derivation) are independent of the user
    event_id = rng.permutation(n).astype(np.int64)
    ts = _TS0_US + rng.integers(0, _MONTH_US, size=n)
    event_type = EVENT_TYPES[rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)]
    value = np.round(rng.uniform(0.0, 560.0, size=n), 2)
    if workload == "wide_text":
        props = _wide_props(n, rng)
    else:
        props = ['{"k": %d}' % k for k in rng.integers(0, 100, size=n)]
    order = np.argsort(event_id, kind="stable")
    return pa.table({
        "event_id": pa.array(event_id[order]),
        "ts": pa.array(ts[order], type=pa.timestamp("us")),
        "user_id": pa.array(user_id[order]),
        "event_type": pa.array(event_type[order]),
        "value": pa.array(value[order]),
        "props": pa.array([props[i] for i in order], type=pa.string()),
    })


def write(table: pa.Table, sf_dir: str) -> None:
    """Write `table` as `<sf_dir>/events.parquet/part-0.parquet`."""
    out = os.path.join(sf_dir, "events.parquet")
    os.makedirs(out, exist_ok=True)
    pq.write_table(table, os.path.join(out, "part-0.parquet"), row_group_size=65_536)


def conv_shape(table: pa.Table) -> dict:
    """Conversation-length properties of a generated table."""
    counts = np.unique(table.column("user_id").to_numpy(), return_counts=True)[1]
    counts = np.sort(counts)[::-1]
    return {
        "turns": int(table.num_rows),
        "conversations": int(len(counts)),
        "conv_len_p50": float(np.percentile(counts, 50)),
        "conv_len_p99": float(np.percentile(counts, 99)),
        "conv_len_max": int(counts[0]),
        # share of all turns held by the five longest conversations
        "hot_conv_share": round(float(counts[:5].sum() / counts.sum()), 4),
    }
