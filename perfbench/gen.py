"""Seeded synthetic transcripts for the pipeline benchmark.

The engine sees only the parquet written here. One seed gives the same
tables byte for byte. The total turn count is fixed by the scale, not by
the seed, so run-to-run differences in work come from the data's shape
(turns per conversation, hot conversations, day spread) and not from its
size.

Three tables are written from the one generated set of turns:

* ``full``: every turn; the input of every timed run.
* ``daily_base``: what yesterday's warehouse saw: every day before day
  ``DAILY_CUT_DAY``, minus a slice of one closed mid-range day.
* ``serve_lag``: every day before day ``SERVE_HORIZON_DAY``; the serving
  warehouse is built from it and lags the input by a few days.

Both cuts are fixed calendar days inside the span where conversations
start, so their sizes barely move with the seed.
"""

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = np.array([
    "the", "rollup", "spark", "window", "turn", "agent", "tool", "query",
    "plan", "shuffle", "series", "batch", "merge", "stream", "state"])
TOOLS = ["search", "calc", "browse", "code", "db"]
EPOCH_START_MS = 1704067200000  # 2024-01-01T00:00:00Z
DAY_MS = 86_400_000
START_SPAN_DAYS = 30
HOT_SHARE = 0.01
HOT_FACTOR = 20
TOOL_SHARE = 0.15
FILES = 8

# day indexes from 2024-01-01
DAILY_CUT_DAY = 20
DAILY_DIRTY_DAY = 10  # a closed day that gets late arrivals:
DAILY_WITHHELD_EVERY = 20  # every 20th turn of it arrives late
SERVE_HORIZON_DAY = 27

SCHEMA = pa.schema([
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("role", pa.string()),
    ("text", pa.string()),
    ("tool", pa.string()),
    ("ts", pa.timestamp("us")),
])


def turn_counts(rng, convs, hot, turns):
    """Log-normal turns per conversation, the `hot` first ones HOT_FACTOR
    times the mean, rescaled to sum to `turns`."""
    weight = np.exp(rng.normal(0.0, 0.6, convs))
    weight[:hot] = HOT_FACTOR * weight[hot:].mean()
    counts = np.maximum(1, np.floor(weight / weight.sum() * turns)).astype(np.int64)
    counts[np.argmax(counts)] += turns - counts.sum()
    return counts


def texts(rng, n):
    """1..24 words per turn from a 15-word vocabulary."""
    nwords = rng.integers(1, 25, n)
    idx = rng.integers(0, len(WORDS), (n, 24))
    words = WORDS[idx]
    return [" ".join(row[:k]) for row, k in zip(words.tolist(), nwords.tolist())]


def generate(out_dir, seed, convs, turns):
    """Write the three tables under `out_dir`; return facts the runs need."""
    rng = np.random.default_rng(seed)
    hot = max(1, int(convs * HOT_SHARE))
    counts = turn_counts(rng, convs, hot, turns)
    conv_of = np.repeat(np.arange(convs), counts)
    first = np.concatenate([[0], np.cumsum(counts)[:-1]])
    turn_idx = np.arange(turns) - np.repeat(first, counts)

    # stratified starts: one conversation per slot of the span, slots
    # shuffled; the hot ones evenly spaced, so no seed piles them up
    slot = rng.permutation(convs).astype(np.float64)
    slot[:hot] = (np.arange(hot) + 0.5) * convs / hot
    start_ms = EPOCH_START_MS + ((slot + rng.random(convs)) / convs
                                 * START_SPAN_DAYS * DAY_MS).astype(np.int64)
    gap_ms = 500 + (rng.random(turns) * rng.random(turns) * 240_000).astype(np.int64)
    run = np.cumsum(gap_ms)
    before_conv = np.repeat(run[first] - gap_ms[first], counts)
    ts_ms = np.repeat(start_ms, counts) + run - before_conv

    is_tool = rng.random(turns) < TOOL_SHARE
    role = np.where(is_tool, "tool", np.where(turn_idx % 2 == 0, "user", "assistant"))
    tool_pick = rng.integers(0, len(TOOLS), turns)
    tool = [TOOLS[k] if t else None for k, t in zip(tool_pick.tolist(), is_tool.tolist())]

    table = pa.table({
        "conv_id": pa.array(np.char.add("conv", conv_of.astype(str)).tolist()),
        "turn_idx": pa.array(turn_idx.astype(np.int32)),
        "role": pa.array(role.tolist()),
        "text": pa.array(texts(rng, turns)),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array(ts_ms * 1000, pa.timestamp("us")),
    }, schema=SCHEMA)

    day = (ts_ms - EPOCH_START_MS) // DAY_MS
    base_keep = (day < DAILY_CUT_DAY) & ~(
        (day == DAILY_DIRTY_DAY) & (turn_idx % DAILY_WITHHELD_EVERY == 0))
    lag_keep = day < SERVE_HORIZON_DAY

    _write(table, os.path.join(out_dir, "full"))
    _write(table.filter(pa.array(base_keep)), os.path.join(out_dir, "daily_base"))
    _write(table.filter(pa.array(lag_keep)), os.path.join(out_dir, "serve_lag"))

    def iso(d):
        return (datetime.date(2024, 1, 1) + datetime.timedelta(days=int(d))).isoformat()

    return {
        "turns": {"daily_base": int(base_keep.sum()), "serve_lag": int(lag_keep.sum())},
        "first_day": iso(day.min()),
        "last_day": iso(day.max()),
        "serve_horizon": iso(SERVE_HORIZON_DAY),
        "input_bytes": _dir_bytes(os.path.join(out_dir, "full")),
    }


def _write(table, path):
    os.makedirs(path)
    rows = table.num_rows
    step = -(-rows // FILES)
    for i in range(FILES):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:02d}.parquet"))


def _dir_bytes(path):
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
