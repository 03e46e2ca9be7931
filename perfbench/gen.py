"""Seeded input generator for the benchmark.

Kept apart from the program under test (it imports nothing from
``tsforge_spark``) so that a change to the program's own fixtures can
never change what the benchmark feeds it.

Sizes do not depend on the seed: a snapshot has an exact turn total
over a fixed number of conversations whose turn counts come from a
fixed Pareto schedule, and a delta's parts have fixed counts.  The seed
only permutes the schedule and draws conversation ids, start times,
per-turn jitter, words and tools.

Only the conversation table (a few thousand rows) is built on the
driver.  The turns themselves are produced on the executors: each
conversation row is exploded into its turns, and every per-turn value
is a hash of ``(seed, conv, turn_idx)``, so any turn can be generated
again, bit for bit, from its key (which is how re-delivered rows are
made).  A conversation with ``n`` turns, start ``s`` and gap ``g``
puts turn ``t`` at ``s + (t + u) * g`` with ``u`` in [0, 1), so all its
turns lie in ``[s, s + n * g)``.

Frames have the canonical transcript columns
``(conv_id, turn_idx, role, text, tool, ts)`` with µs timestamps.
"""

from __future__ import annotations

import numpy as np

START_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z
DAY_US = 86_400_000_000
SPAN_DAYS = 14
GAP_US = 20_000_000  # ordinary conversations: a turn every 20 s
HOT_GAP_US = 1_500_000  # the hot conversation: a turn every 1.5 s
TOOL_SHARE = 0.15
CHUNK_TURNS = 10_000
# a daily delta: turns of new conversations (over a fixed number of
# them), conversations of the previous day given late turns, late turns
# each, and re-delivered rows of the previous day
DELTA_NEW_TURNS, DELTA_NEW_CONVS, DELTA_MAX_TURNS = 10_000, 250, 400
DELTA_LATE_CONVS, DELTA_LATE_TURNS, DELTA_DUPS = 50, 2, 1_000
DELTA_ROWS = DELTA_NEW_TURNS + DELTA_LATE_CONVS * DELTA_LATE_TURNS + DELTA_DUPS
WORDS = (
    "the a of to and in for on with by scan join agg window rollup tier "
    "bucket series turn tool spark plan shuffle partition codec delta "
    "gorilla stream state metric fold grid fill"
).split()
TOOLS = ["bash", "read", "write", "edit", "grep", "glob", "task"]


def turn_schedule(n_turns: int, n_convs: int, max_turns: int) -> np.ndarray:
    """Turns per conversation: Pareto (shape 1.5) quantiles scaled so the
    counts sum to exactly ``n_turns``.  The same for every seed."""
    q = (np.arange(n_convs) + 0.5) / n_convs
    raw = (1.0 - q) ** (-1.0 / 1.5)
    lo, hi = 0.0, float(n_turns)
    for _ in range(100):  # largest scale whose clipped counts fit
        mid = (lo + hi) / 2
        if np.clip(np.floor(raw * mid), 3, max_turns).sum() <= n_turns:
            lo = mid
        else:
            hi = mid
    counts = np.clip(np.floor(raw * lo), 3, max_turns).astype(np.int64)
    short = n_turns - int(counts.sum())
    if short < 0 or short > n_convs:
        raise ValueError(f"no schedule of {n_convs} conversations holds {n_turns} turns")
    counts[:short] += 1  # the shortest conversations take the remainder
    return counts


def conversations(seed: int, n_turns: int, n_convs: int, max_turns: int,
                  first_id: int, day0: int, days: int, hot_turns: int = 0) -> dict:
    """The conversation table of a snapshot: ``n_convs`` ordinary
    conversations (plus one hot one when ``hot_turns``), each starting
    on a day in ``[day0, day0 + days)`` and ending before that span
    ends.  Returns numpy columns ``conv, n, start_us, gap_us``."""
    rng = np.random.default_rng(seed)
    n = rng.permutation(turn_schedule(n_turns, n_convs, max_turns))
    gap = np.full(n_convs, GAP_US, dtype=np.int64)
    if hot_turns:
        n = np.append(n, hot_turns)
        gap = np.append(gap, HOT_GAP_US)
    dur = n * gap
    span0, span1 = day0 * DAY_US, (day0 + days) * DAY_US
    start = span0 + (rng.random(len(n)) * (span1 - span0 - dur)).astype(np.int64)
    conv = first_id + rng.permutation(len(n)).astype(np.int64)
    return {"conv": conv, "n": n, "start_us": START_US + start, "gap_us": gap}


def _uniform(seed: int, *cols):
    """A column uniform in [0, 1), a hash of ``seed`` and ``cols``."""
    from pyspark.sql import functions as F

    h = F.xxhash64(F.lit(seed), *cols)
    return (h.bitwiseAND(F.lit((1 << 53) - 1))).cast("double") / float(1 << 53)


def _pick(seed: int, values: list[str], *cols):
    from pyspark.sql import functions as F

    idx = (F.floor(_uniform(seed, *cols) * len(values)) + 1).cast("int")
    return F.element_at(F.array(*[F.lit(v) for v in values]), idx)


def _table(spark, table: dict, parts: int):
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(table)).repartition(parts)


def _chunked(table: dict) -> dict:
    """``table`` with each conversation split into row ranges
    ``[first, last)`` of at most ``CHUNK_TURNS`` turns, so a long
    conversation spreads over several tasks."""
    k = -(-table["n"] // CHUNK_TURNS)
    rep = np.repeat(np.arange(len(k)), k)
    out = {c: v[rep] for c, v in table.items()}
    out["first"] = (np.arange(k.sum()) - np.repeat(np.cumsum(k) - k, k)) * CHUNK_TURNS
    out["last"] = np.minimum(out["first"] + CHUNK_TURNS, out["n"])
    return out


def turns(spark, seed: int, table: dict, parts: int):
    """Every turn of the conversations in ``table`` (columns ``conv, n,
    start_us, gap_us``), generated on the executors."""
    from pyspark.sql import functions as F

    df = _table(spark, _chunked(table), parts)
    t = F.col("turn_idx")
    df = df.withColumn("turn_idx", F.explode(F.sequence(F.col("first").cast("int"),
                                                         (F.col("last") - 1).cast("int"))))
    ts_us = F.col("start_us") + ((t + _uniform(seed, F.col("conv"), t, F.lit(1)))
                                 * F.col("gap_us")).cast("long")
    cid = F.format_string("c%08d", F.col("conv"))
    text = F.concat(
        F.lit("c"), F.col("conv").cast("string"), F.lit(" t"), t.cast("string"), F.lit(": "),
        _pick(seed, WORDS, F.col("conv"), t, F.lit(2)), F.lit(" "),
        _pick(seed, WORDS, F.col("conv"), t, F.lit(3)))
    tool = F.when(_uniform(seed, F.col("conv"), t, F.lit(4)) < TOOL_SHARE,
                  _pick(seed, TOOLS, F.col("conv"), t, F.lit(5)))
    return df.select(
        cid.alias("conv_id"), t.cast("int").alias("turn_idx"),
        F.when(t % 2 == 0, "user").otherwise("assistant").alias("role"),
        text.alias("text"), tool.cast("string").alias("tool"),
        F.timestamp_micros(ts_us).alias("ts"))


def late_turns(spark, seed: int, table: dict, day: int, parts: int):
    """``DELTA_LATE_TURNS`` late turns for each conversation of ``table``
    (one that overlaps absolute day ``day``): ``turn_idx`` past its last
    turn, ``ts`` inside the part of its span that lies on that day."""
    from pyspark.sql import functions as F

    d0 = START_US + day * DAY_US
    end = table["start_us"] + table["n"] * table["gap_us"]
    lo = np.maximum(table["start_us"], d0)
    hi = np.minimum(end, d0 + DAY_US)
    df = _table(spark, {"conv": table["conv"], "n": table["n"], "lo": lo, "hi": hi}, parts)
    j = F.col("j")
    df = df.withColumn("j", F.explode(F.sequence(F.lit(0), F.lit(DELTA_LATE_TURNS - 1))))
    ts_us = F.col("lo") + (_uniform(seed, F.col("conv"), j, F.lit(6))
                           * (F.col("hi") - F.col("lo"))).cast("long")
    return df.select(
        F.format_string("c%08d", F.col("conv")).alias("conv_id"),
        (F.col("n") + j).cast("int").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        F.concat(F.lit("c"), F.col("conv").cast("string"), F.lit(" late "),
                 j.cast("string")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_micros(ts_us).alias("ts"))


def overlapping(table: dict, day: int) -> np.ndarray:
    """Indices of the conversations of ``table`` whose span overlaps
    absolute day ``day``."""
    d0 = START_US + day * DAY_US
    end = table["start_us"] + table["n"] * table["gap_us"]
    return np.flatnonzero((table["start_us"] < d0 + DAY_US) & (end > d0))


def subset(table: dict, idx: np.ndarray) -> dict:
    return {k: v[idx] for k, v in table.items()}


def day_date(day: int):
    """The calendar date of absolute day ``day``."""
    import datetime as dt

    return dt.date(2025, 1, 1) + dt.timedelta(days=day)


def day_of(ts_col, day: int):
    """``ts_col`` falls on absolute day ``day`` (UTC)."""
    from pyspark.sql import functions as F

    d0 = START_US + day * DAY_US
    us = F.unix_micros(ts_col)
    return (us >= F.lit(d0)) & (us < F.lit(d0 + DAY_US))


def redelivered(spark, seed: int, table: dict, day: int, parts: int):
    """``DELTA_DUPS`` turns of ``table`` that lie on absolute day ``day``,
    generated again unchanged (same key, same content): the seeded
    ``DELTA_DUPS`` with the smallest hash of their key."""
    from pyspark.sql import functions as F

    rows = turns(spark, seed, table, parts).filter(day_of(F.col("ts"), day))
    order = F.xxhash64(F.lit(seed), F.lit(day), F.col("conv_id"), F.col("turn_idx"))
    return (rows.orderBy(order, "conv_id", "turn_idx").limit(DELTA_DUPS)
            .repartition(parts))


class DailyDeltas:
    """The base snapshot and the seeded daily deltas after it.

    Delta ``k`` lands on absolute day ``SPAN_DAYS + k``: it starts
    ``DELTA_NEW_CONVS`` new conversations that day (ending before the
    day does), adds late turns to ``DELTA_LATE_CONVS`` conversations
    that overlap the previous day, and re-delivers ``DELTA_DUPS`` rows
    of the previous day.  Every delta therefore touches exactly two
    days.  A conversation gets late turns at most once: the previous
    day's conversations are different for every delta."""

    def __init__(self, seed: int, base_turns: int, base_convs: int, max_turns: int):
        self.seed = seed
        self.base = conversations(seed, base_turns, base_convs, max_turns,
                                  first_id=0, day0=0, days=SPAN_DAYS)
        self.days: list[dict] = [self.base]  # conversation table per delta day

    def new_convs(self, k: int) -> dict:
        while len(self.days) <= k + 1:
            i = len(self.days) - 1
            self.days.append(conversations(
                self.seed * 1_000 + i, DELTA_NEW_TURNS, DELTA_NEW_CONVS, DELTA_MAX_TURNS,
                first_id=(i + 1) * 1_000_000, day0=SPAN_DAYS + i, days=1))
        return self.days[k + 1]

    def delta(self, spark, k: int, parts: int):
        """Delta ``k`` as a DataFrame, and its count of new unique turns."""
        day = SPAN_DAYS + k
        new = self.new_convs(k)
        active = overlapping(self.days[k], day - 1)
        prev = subset(self.days[k], active)
        rng = np.random.default_rng(self.seed * 7_919 + k)
        late = subset(prev, np.sort(rng.choice(len(active), DELTA_LATE_CONVS, replace=False)))
        df = (turns(spark, self.seed, new, parts)
              .unionByName(late_turns(spark, self.seed, late, day - 1, parts))
              .unionByName(redelivered(spark, self.seed, prev, day - 1, parts)))
        return df, DELTA_NEW_TURNS + DELTA_LATE_CONVS * DELTA_LATE_TURNS
