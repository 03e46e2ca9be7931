"""The benchmark's workloads and the layer probes of a traced run.

Both workloads are closed loop with one client: each call waits for the
previous one, on the run's one ``local[nproc]`` session.  In
``bulk_ingest`` every timed operation follows an untimed warm-up
operation of exactly its shape and size, because in a warm session the
first operation at a new input size runs about 25% slower than the ones
after it.  In ``daily_delta`` the base build and reads of it come
first; a warm-up delta on top made the timed deltas about 9% faster but
did not narrow their run-to-run spread, and did not fit the time
budget.  The timed operations are the same sequence for every seed;
their count comes from ``--seconds`` alone.

- ``bulk_ingest``: every operation is a first ``RollupPipeline.run()``
  (constructor defaults) of one snapshot into a fresh output dir,
  followed by one-day 1m reads.  The snapshot holds one conversation
  above the default ``hot_threshold``, so the salted layout runs.  This
  loads the write path: store write, salted layout, 1m rollup, folds and
  blob encode.
- ``daily_delta``: after an untimed base build, every operation applies
  one fixed-size daily delta through ``run()``, followed by one-day 1m
  reads of seeded interior days.  Late and re-delivered rows come only
  from the previous day, so every delta touches exactly two days.  This
  loads the incremental path (probe, dedup anti-join, staged move,
  partition surgery) and the decode path between writes.

A traced run times alternate operations with and without spans (ABBA,
so a warming trend cancels out): per-layer pipeline metrics are medians
over the traced operations, and the gap between the two medians is the
tracing overhead.  Layer probes then run on the run's own data.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import statistics
import time

import numpy as np

import gen
from spans import driver_only, duration, skew, stage, tree_peak_rss_mb

MEASURES = ("turns", "tool_calls")
RETENTION = {"1m": 7, "1h": 30, "1d": None}
GEN_PARTS = 4
# untimed first runs of the timed shape and size before the timed ones
# in bulk_ingest; they also absorb the fresh session's cold costs.  One,
# so that a run fits the benchmark's time budget (see CHANGES.md); a
# second cost 9 s a run and did not narrow the run-to-run spread
WARM_UPS = 1
# ordinary turns, conversations, max turns of one, and the hot
# conversation: just above RollupPipeline's default 100k hot_threshold.
# The inputs are small because an operation's wall grows with them
# (a first run: ~7 s at 165k turns, ~12 s at 405k) and a run must stay
# near a minute; the base keeps 2,500 conversations so that its last day
# always has the 50 a delta's late turns need
BULK_TURNS, BULK_CONVS, MAX_TURNS, BULK_HOT = 60_000, 500, 2_000, 105_000
BASE_TURNS, BASE_CONVS = 50_000, 2_500
# one-day reads after each timed delta, and untimed ones after the last
# untimed operation (the base build, or bulk_ingest's last warm-up)
READS_PER_DELTA, WARM_READS = 4, 2
# one-day reads after each timed bulk_ingest operation: reads right after
# a first run vary more than reads between deltas, so more of them
BULK_READS = 5
# nominal seconds of one timed operation: --seconds / OP_S is the number
# of timed operations (at least MIN_TIMED)
OP_S, MIN_TIMED = 10.0, 2


def timed_ops(seconds: int, traced: bool) -> int:
    """Timed operations of a run.  A traced run times at least four, so
    its ABBA order of untraced and traced operations is complete."""
    return max(MIN_TIMED, round(seconds / OP_S), 4 if traced else 0)


def traced_op(i: int) -> bool:
    """Timed operation ``i`` of a traced run carries spans: ABBA order."""
    return i % 4 in (1, 2)


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def footer_rows(path: str) -> int:
    """Rows of every parquet file under ``path``, from the footers."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(os.path.join(r, f)).metadata.num_rows
               for r, _d, files in os.walk(path) for f in files if f.endswith(".parquet"))


def n_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _r, _d, files in os.walk(path) for f in files)


def tiers(spark, out: str) -> dict:
    return {t: spark.read.parquet(os.path.join(out, "tiers", t)).drop("day")
            for t in ("1m", "1h", "1d")}


def tier_digest(sides: dict, turns=None) -> dict:
    """For each side (a dict tier → DataFrame of tier cells), per tier and
    day, in one job: (cells, Σ row hash, Σ turns).  The row hash sum is
    an order-insensitive fingerprint of the cells.  With ``turns`` (the
    turns store) the same job also counts, per day, its rows and its
    salted rows, under side ``"store"``."""
    from functools import reduce

    from pyspark.sql import functions as F

    cols = sorted(next(iter(sides.values()))["1m"].columns)
    parts = [df.select(F.lit(side).alias("side"), F.lit(t).alias("tier"),
                       F.to_date("bucket").alias("day"),
                       F.xxhash64(*cols).cast("decimal(38,0)").alias("h"), "turns")
             for side, frames in sides.items() for t, df in frames.items()]
    if turns is not None:
        parts.append(turns.select(F.lit("store").alias("side"), F.lit("turns").alias("tier"),
                                  "day", F.lit(0).cast("decimal(38,0)").alias("h"),
                                  (F.col("salt") > 0).cast("long").alias("turns")))
    rows = reduce(lambda a, b: a.unionByName(b), parts).groupBy("side", "tier", "day").agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("h"), F.sum("turns").alias("s")).collect()
    return {(r["side"], r["tier"], r["day"]): (r["n"], int(r["h"]), int(r["s"])) for r in rows}


def digest_sum(digest: dict, side: str, tier: str) -> int:
    """Σ turns over the days of a side's tier in a ``tier_digest``."""
    return sum(v[2] for k, v in digest.items() if k[:2] == (side, tier))


def same_rows(a, b) -> bool:
    """``a`` and ``b`` hold the same multiset of rows, compared in one job
    by (rows, Σ row hash) on each side."""
    from pyspark.sql import functions as F

    cols = sorted(a.columns)
    both = a.select(F.lit(0).alias("side"), *cols).unionByName(
        b.select(F.lit(1).alias("side"), *cols))
    sums = both.groupBy("side").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")).collect()
    fp = {r["side"]: (r["n"], r["h"]) for r in sums}
    return fp.get(0) == fp.get(1)


def median(vals) -> float | None:
    vals = [v for v in vals if v is not None]
    return statistics.median(vals) if vals else None


class Run:
    """Operations, records and checks shared by both workloads."""

    def __init__(self, bench, spark):
        self.b = bench
        self.spark = spark
        self.tr = bench.tracer
        self.traced = bench.tracer.enabled
        self.ops: list[dict] = []   # every pipeline run, in order
        self.reads: list[dict] = []  # every one-day read, in order
        self.gen_s = 0.0
        self.t0 = time.perf_counter()

    def mark(self, name: str) -> None:
        """Record in the run's info line when a phase ended."""
        self.b.info.setdefault("marks", {})[name] = time.perf_counter() - self.t0

    def timed(self) -> list[dict]:
        return [o for o in self.ops if o["kind"] == "timed"]

    def spans_on(self, on: bool) -> None:
        self.tr.enabled = self.traced and on

    # ---- operations -------------------------------------------------
    def append(self, store, df) -> None:
        """Generate and append one snapshot: input generation, untimed."""
        t0 = time.perf_counter()
        with self.tr.span("snapshots.append"):
            self.b.op(lambda: store.append(df))
        self.gen_s += time.perf_counter() - t0

    def pipeline(self, store, out: str, kind: str, traced: bool = True) -> dict:
        from tsforge_spark.plans.pipeline import RollupPipeline

        self.spans_on(traced)
        self.tr.op_id = len(self.ops)
        t0 = time.perf_counter()
        with self.tr.span("pipeline.run", kind=kind) as sp:
            res = self.b.op(lambda: RollupPipeline(self.spark, store, out).run())
        wall = time.perf_counter() - t0
        rec = {"index": len(self.ops), "kind": kind, "wall": wall, "traced": sp is not None,
               "res": res or {}, "span": sp, "files": n_files(out) if sp else None}
        self.ops.append(rec)
        self.b.info["ops"].append({k: rec[k] for k in ("index", "kind", "wall", "traced")}
                                  | {"affected_days": rec["res"].get("affected_days"),
                                     "stage_sec": rec["res"].get("stage_sec")})
        self.b.check(f"op {rec['index']} status", rec["res"].get("status") == "ok",
                     rec["res"].get("status"))
        self.spans_on(True)
        return rec

    def read_day(self, out: str, day: dt.date, kind: str, traced: bool = True) -> None:
        """One serving request: a day of the 1m tier, decoded from blobs."""
        from tsforge_spark.codec.blobs import read_series

        self.spans_on(traced)
        t0 = dt.datetime(day.year, day.month, day.day)
        t1 = t0 + dt.timedelta(days=1, microseconds=-1)
        blobs = os.path.join(out, "blobs")
        w0 = time.perf_counter()
        with self.tr.span("blobs.decode_day", day=str(day)) as sp:
            n = self.b.op(lambda: read_series(self.spark, blobs, "1m", t0, t1).count())
        self.reads.append({"kind": kind, "day": day, "rows": n, "wall": time.perf_counter() - w0,
                           "span": sp})
        self.spans_on(True)

    def compact(self, out: str, store, n_turns: int, days=None) -> dict:
        """``compact_turns(days)``, checked to keep every turn."""
        from tsforge_spark.plans.pipeline import RollupPipeline

        pipe = RollupPipeline(self.spark, store, out)
        with self.tr.span("pipeline.compact") as sp:
            comp = self.b.op(lambda: pipe.compact_turns(days)) or {}
        n_after = self.b.op(lambda: self.spark.read.parquet(pipe.turns_path).count())
        self.b.check("compaction keeps every turn", n_after == n_turns, f"{n_after} != {n_turns}")
        return {"pipeline.compact_s": duration(sp),
                "pipeline.compact_files_before": comp.get("files_before"),
                "pipeline.compact_files_after": comp.get("files_after")}

    def retention(self, out: str, store) -> dict:
        """``enforce_retention(RETENTION)``, checked to delete a partition."""
        from tsforge_spark.plans.pipeline import RollupPipeline

        pipe = RollupPipeline(self.spark, store, out)
        t0 = time.perf_counter()
        with self.tr.span("pipeline.retention"):
            ret = self.b.op(lambda: pipe.enforce_retention(RETENTION)) or {}
        retention_s = time.perf_counter() - t0
        deleted = sum(len(v) for v in ret.get("deleted", {}).values())
        self.b.check("retention deletes a partition", deleted > 0, ret.get("deleted"))
        return {"pipeline.retention_s": retention_s, "pipeline.retention_deleted_parts": deleted}

    # ---- results ----------------------------------------------------
    def read_p50(self) -> float:
        return statistics.median(r["wall"] for r in self.reads if r["kind"] == "timed")

    def bytes_per_point(self, out: str) -> float:
        from pyspark.sql import functions as F

        row = self.spark.read.parquet(os.path.join(out, "blobs")).agg(
            F.sum("blob_bytes").alias("b"), F.sum("n_points").alias("p")).first()
        return row["b"] / row["p"]

    def record(self, setup_s: float) -> None:
        self.mark("timed")
        self.b.info.update(gen_s=self.gen_s, setup_s=setup_s,
                           reads=[{"kind": r["kind"], "day": str(r["day"]), "wall": r["wall"]}
                                  for r in self.reads])

    def pipeline_layers(self) -> dict:
        """Stage record and status-store metrics, as medians over the
        traced timed operations.  A stage no timed operation records
        (``overlap_wall`` exists only on first runs) comes from the
        untimed ones."""
        ops = [o for o in self.timed() if o["traced"]]
        out = {}
        for s in ("probe", "prepare", "tier_1m", "tier_fold", "blob_1m", "blobs", "overlap_wall"):
            vals = [o["res"]["stage_sec"][s] for o in ops if s in o["res"].get("stage_sec", {})]
            vals = vals or [o["res"]["stage_sec"][s] for o in self.ops
                            if s in o["res"].get("stage_sec", {})]
            out[f"pipeline.{s}_s"] = median(vals)
        sp = [o["span"] for o in ops]
        out["pipeline.affected_days"] = median(o["res"].get("affected_days") for o in ops)
        for key in ("jobs", "stages", "tasks", "cpu_s", "gc_s", "shuffle_write_bytes",
                    "spill_bytes"):
            out[f"pipeline.{key}"] = median(stage(s, key) for s in sp)
        out["pipeline.task_max_over_p50"] = median(skew(s) for s in sp)
        out["pipeline.driver_only_s"] = median(driver_only(s) for s in sp)
        out["pipeline.output_files"] = median(o["files"] for o in ops)
        plain = median(o["wall"] for o in self.timed() if not o["traced"])
        traced = median(o["wall"] for o in ops)
        out["trace.overhead_pct"] = 100.0 * (traced - plain) / plain if plain and traced else None
        return out

    # ---- layer probes (traced runs only) ----------------------------
    def probes(self, store, out: str) -> dict:
        from tsforge_spark.operators.rollup import fold_tier, rollup_transcripts
        from tsforge_spark.operators.skew import hot_keys, salted_layout

        tr, spark, op = self.tr, self.spark, self.b.op
        tr.op_id = None

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        tier = tiers(spark, out)
        with tr.span("snapshots.read") as sp_r:
            op(lambda: store.read(spark).count())
        with tr.span("rollup.rollup_1m") as sp1:
            op(lambda: noop(rollup_transcripts(store.read(spark), "1m")))
        with tr.span("rollup.fold_1h") as sph:
            op(lambda: noop(fold_tier(tier["1m"], "1h")))
        with tr.span("rollup.fold_1d") as spd:
            op(lambda: noop(fold_tier(tier["1h"], "1d")))
        with tr.span("skew.hot_keys") as sp_h:
            op(lambda: noop(hot_keys(store.read(spark), "conv_id")))
        with tr.span("skew.salted_layout") as sp_s:
            op(lambda: noop(salted_layout(store.read(spark))))
        salted = op(lambda: salted_layout(store.read(spark)).filter("salt > 0").count())
        L = {
            "snapshots.read_s": duration(sp_r),
            "snapshots.input_bytes": du(store.path),
            "snapshots.append_s": median(duration(s) for s in tr.find("snapshots.append")),
            "rollup.rollup_1m_s": duration(sp1),
            "rollup.fold_1h_s": duration(sph),
            "rollup.fold_1d_s": duration(spd),
            "rollup.shuffle_write_bytes": stage(sp1, "shuffle_write_bytes"),
            "rollup.task_max_over_p50": skew(sp1),
            "skew.hot_keys_s": duration(sp_h),
            "skew.salted_layout_s": duration(sp_s),
            "skew.salted_rows": salted,
        }
        L.update(self.blob_probes(tier["1m"]))
        L.update(self.gorilla_probes(out))
        L["blobs.decode_day_s"] = median(duration(r["span"]) for r in self.reads)
        L["session.start_s"] = duration(tr.find("session.start")[0])
        L["session.warm_start_s"] = duration(tr.find("session.warm_start")[0])
        L["session.peak_rss_mb"] = tree_peak_rss_mb()
        return L

    def blob_probes(self, tier_1m) -> dict:
        """The 1m encode to a no-op sink, and an identity grouped map with
        the encode's grouping and input projection: the identity alone is
        the Arrow↔pandas boundary, the difference is the codec kernel."""
        from pyspark.sql import functions as F

        from tsforge_spark.codec import blobs as B

        tr, op = self.tr, self.b.op
        with tr.span("blobs.encode_1m") as spe:
            op(lambda: B.encode_tier_blobs(tier_1m, "1m", MEASURES)
               .write.format("noop").mode("overwrite").save())
        n_buckets = B._default_n_buckets(self.spark.sparkContext.defaultParallelism, None)
        projected = tier_1m.select(
            "conv_id", "bucket", *MEASURES,
            F.date_trunc(B.SEGMENT_TRUNC["1m"], F.col("bucket")).alias("segment"),
            F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int").alias("_enc_bucket"),
        )
        with tr.span("blobs.identity_udf") as spi:
            op(lambda: projected.groupBy("_enc_bucket")
               .applyInPandas(lambda pdf: pdf, schema=projected.schema)
               .write.format("noop").mode("overwrite").save())
        return {
            "blobs.encode_1m_s": duration(spe),
            "blobs.identity_udf_s": duration(spi),
            "blobs.encode_task_max_over_p50": skew(spe),
        }

    def gorilla_probes(self, out: str) -> dict:
        """The numpy codec kernel alone, outside Spark, on the run's own
        1m tier: encode and decode throughput in MB/s of raw points
        (16 bytes a point: timestamp and value, median of 3 calls each),
        and bytes per point of each tier's stored blobs."""
        from pyspark.sql import functions as F

        from tsforge_spark.codec.gorilla import decode_blobs_many, encode_blobs_batch

        pdf = self.spark.read.parquet(os.path.join(out, "tiers", "1m")).select(
            "conv_id", "bucket", *MEASURES).toPandas()
        pdf = pdf.sort_values(["conv_id", "bucket"], kind="mergesort")
        ts = pdf["bucket"].to_numpy("datetime64[us]").astype(np.int64)
        conv = pdf["conv_id"].to_numpy()
        seg = ts // gen.DAY_US
        change = np.ones(len(pdf), dtype=bool)
        change[1:] = (conv[1:] != conv[:-1]) | (seg[1:] != seg[:-1])
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], len(pdf))
        vals = {m: pdf[m].to_numpy(np.float64) for m in MEASURES}
        raw_mb = len(pdf) * len(MEASURES) * 16 / 1e6
        enc_s, dec_s = [], []
        for _ in range(3):
            with self.tr.span("gorilla.encode") as spe:
                blobs = encode_blobs_batch(ts, starts, ends, vals)
            flat = [b for m in MEASURES for b in blobs[m]]
            with self.tr.span("gorilla.decode") as spd:
                dts, dvals, _ = decode_blobs_many(flat)
            enc_s.append(duration(spe))
            dec_s.append(duration(spd))
        ok = np.array_equal(dts, np.concatenate([ts] * len(MEASURES))) and np.array_equal(
            dvals, np.concatenate([vals[m] for m in MEASURES]))
        self.b.check("gorilla kernel round trip", ok, "decoded points differ")
        per_tier = {
            r["tier"]: r["b"] / r["p"]
            for r in self.spark.read.parquet(os.path.join(out, "blobs"))
            .groupBy("tier").agg(F.sum("blob_bytes").alias("b"),
                                 F.sum("n_points").alias("p")).collect()
        }
        return {
            "gorilla.encode_mb_per_s": raw_mb / statistics.median(enc_s),
            "gorilla.decode_mb_per_s": raw_mb / statistics.median(dec_s),
            **{f"gorilla.bytes_per_point_{t}": per_tier.get(t) for t in ("1m", "1h", "1d")},
        }


def seeded_days(seed: int, k: int) -> list[dt.date]:
    """``k`` seeded interior days of the base span (never an edge day,
    never a day a delta touches)."""
    rng = np.random.default_rng(seed * 104_729 + 17)
    return [gen.day_date(int(d)) for d in rng.integers(1, gen.SPAN_DAYS - 1, k)]


def bulk_ingest(b) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from tsforge_spark.codec.blobs import decode_blobs
    from tsforge_spark.sources.snapshots import SnapshotStore

    t_start = time.perf_counter()
    spark = b.session()
    w = Run(b, spark)
    table = gen.conversations(b.seed, BULK_TURNS, BULK_CONVS, MAX_TURNS, first_id=0,
                              day0=0, days=gen.SPAN_DAYS, hot_turns=BULK_HOT)
    n_turns = BULK_TURNS + BULK_HOT
    store = SnapshotStore(os.path.join(b.work, "store"))
    w.append(store, gen.turns(spark, b.seed, table, GEN_PARTS))

    n_timed = timed_ops(b.seconds, w.traced)
    read_days = iter(seeded_days(b.seed, WARM_READS + BULK_READS * n_timed))
    out = None
    for i in range(WARM_UPS):
        out = os.path.join(b.work, f"out-warm-{i}")
        w.pipeline(store, out, "warm")
        if i == WARM_UPS - 1:
            for _ in range(WARM_READS):
                w.read_day(out, next(read_days), "warm")
        shutil.rmtree(out, ignore_errors=True)
    setup_s = time.perf_counter() - t_start - w.gen_s

    for i in range(n_timed):
        if i:
            shutil.rmtree(out, ignore_errors=True)
        out = os.path.join(b.work, f"out-{i}")
        w.pipeline(store, out, "timed", traced=traced_op(i))
        for _ in range(BULK_READS):
            w.read_day(out, next(read_days), "timed", traced_op(i))
    w.record(setup_s)

    # output checks (untimed)
    digest = b.op(lambda: tier_digest({"out": tiers(spark, out)},
                                      spark.read.parquet(os.path.join(out, "turns")))) or {}
    for t in ("1m", "1h", "1d"):
        got = digest_sum(digest, "out", t)
        b.check(f"tier {t} turns sum", got == n_turns, f"{got} != {n_turns}")
    salted = digest_sum(digest, "store", "turns")
    b.check("turns store holds salted rows", salted > 0, salted)
    for r in w.reads:
        want = len(MEASURES) * digest.get(("out", "1m", r["day"]), (-1,))[0]
        b.check(f"read {r['day']} rows", r["rows"] == want, f"{r['rows']} != {want}")
    day = seeded_days(b.seed, 1)[0]
    tier = spark.read.parquet(os.path.join(out, "tiers", "1m")).filter(F.col("day") == day)
    want = tier.select("conv_id", F.lit("turns").alias("measure"), "bucket",
                       F.col("turns").cast("double").alias("value")).unionByName(
        tier.select("conv_id", F.lit("tool_calls").alias("measure"), "bucket",
                    F.col("tool_calls").cast("double").alias("value")))
    got = decode_blobs(spark.read.parquet(os.path.join(out, "blobs"))
                       .filter((F.col("tier_part") == "1m") & (F.col("seg_day") == day)))
    b.check(f"decoded 1m blobs == tier cells {day}",
            b.op(lambda: same_rows(got.select(want.columns), want)), "hash mismatch")

    walls = [o["wall"] for o in w.timed()]
    e2e = {"setup_s": setup_s, "ingest_turns_per_s": n_turns * len(walls) / sum(walls),
           "refold_p50_s": statistics.median(walls), "read_p50_s": w.read_p50(),
           "bytes_per_point": w.bytes_per_point(out),
           "stored_bytes_per_input_byte": du(out) / du(store.path)}
    w.mark("checks")
    if not w.traced:
        return e2e, {}
    layers = w.pipeline_layers()
    layers.update(w.probes(store, out))
    layers.update(w.compact(out, store, n_turns, seeded_days(b.seed + 1, 2)))
    layers.update(w.retention(out, store))
    return e2e, layers


def daily_delta(b) -> tuple[dict, dict]:
    from pyspark.sql import functions as F

    from tsforge_spark.operators.rollup import fold_tier, rollup_transcripts
    from tsforge_spark.sources.snapshots import SnapshotStore

    t_start = time.perf_counter()
    spark = b.session()
    w = Run(b, spark)
    deltas = gen.DailyDeltas(b.seed, BASE_TURNS, BASE_CONVS, MAX_TURNS)
    store = SnapshotStore(os.path.join(b.work, "store"))
    out = os.path.join(b.work, "out")
    w.append(store, gen.turns(spark, b.seed, deltas.base, GEN_PARTS))
    w.pipeline(store, out, "base")
    n_turns = BASE_TURNS
    n_timed = timed_ops(b.seconds, w.traced)
    read_days = iter(seeded_days(b.seed, WARM_READS + READS_PER_DELTA * n_timed))
    for _ in range(WARM_READS):
        w.read_day(out, next(read_days), "warm")
    setup_s = time.perf_counter() - t_start - w.gen_s
    b.info["base_gen_s"] = w.gen_s
    for i in range(n_timed):
        df, unique = deltas.delta(spark, i, GEN_PARTS)
        w.append(store, df)
        n_turns += unique
        w.pipeline(store, out, "timed", traced_op(i))
        for _ in range(READS_PER_DELTA):
            w.read_day(out, next(read_days), "timed", traced_op(i))
    w.record(setup_s)

    # output checks (untimed)
    for o in w.ops[1:]:
        b.check(f"op {o['index']} affected_days == 2", o["res"].get("affected_days") == 2,
                o["res"].get("affected_days"))
    inputs = store.read(spark).select(
        "conv_id", "turn_idx", "role", "tool", "ts", F.length("text").alias("text_len")
    ).dropDuplicates(["conv_id", "turn_idx"])
    # the 1m tier against a full recompute from the input, and each coarser
    # tier against a fold of the tier below it: together, every tier
    # equals a full rollup_transcripts/fold_tier recompute
    got = tiers(spark, out)
    ref = {"1m": rollup_transcripts(inputs, "1m", text_len_col="text_len"),
           "1h": fold_tier(got["1m"], "1h"), "1d": fold_tier(got["1h"], "1d")}
    digest = b.op(lambda: tier_digest({"want": ref, "got": got})) or {}
    n_store = footer_rows(os.path.join(out, "turns"))
    b.check("turns == base + unique delta turns", n_store == n_turns, f"{n_store} != {n_turns}")
    for r in w.reads:
        want = len(MEASURES) * digest.get(("want", "1m", r["day"]), (-1,))[0]
        b.check(f"read {r['day']} rows", r["rows"] == want, f"{r['rows']} != {want}")
    for t in ref:
        days = {side: {k[2]: v for k, v in digest.items() if k[:2] == (side, t)}
                for side in ("want", "got")}
        bad = sorted(str(d) for d in set(days["want"]) | set(days["got"])
                     if days["want"].get(d) != days["got"].get(d))
        b.check(f"tier {t} == full recompute", bool(days["want"]) and not bad,
                f"days differ: {bad}")
        b.check(f"tier {t} turns sum", digest_sum(digest, "got", t) == n_turns)
    bpp = w.bytes_per_point(out)
    w.mark("checks")
    layers = {}
    if w.traced:
        # the days incremental appends left small files in
        touched = [gen.day_date(gen.SPAN_DAYS - 1 + k) for k in range(n_timed + 1)]
        layers.update(w.probes(store, out))
        layers.update(w.compact(out, store, n_turns, touched))
    layers.update(w.retention(out, store))
    walls = [o["wall"] for o in w.timed()]
    e2e = {"setup_s": setup_s, "ingest_turns_per_s": gen.DELTA_ROWS * len(walls) / sum(walls),
           "refold_p50_s": statistics.median(walls), "read_p50_s": w.read_p50(),
           "bytes_per_point": bpp, "stored_bytes_per_input_byte": du(out) / du(store.path)}
    w.mark("maintenance")
    if not w.traced:
        return e2e, {}
    layers.update(w.pipeline_layers())
    return e2e, layers


WORKLOADS = {"bulk_ingest": bulk_ingest, "daily_delta": daily_delta}

# name → unit of every metric a run reports (end-to-end, then per-layer)
UNITS = {
    "setup_s": "s", "ingest_turns_per_s": "turns/s", "refold_p50_s": "s", "read_p50_s": "s",
    "bytes_per_point": "B/point", "stored_bytes_per_input_byte": "ratio",
    "session.start_s": "s", "session.warm_start_s": "s", "session.peak_rss_mb": "MB",
    "snapshots.append_s": "s", "snapshots.read_s": "s", "snapshots.input_bytes": "B",
    **{f"pipeline.{s}_s": "s" for s in (
        "probe", "prepare", "tier_1m", "tier_fold", "blob_1m", "blobs", "overlap_wall")},
    "pipeline.affected_days": "count",
    "pipeline.jobs": "count", "pipeline.stages": "count", "pipeline.tasks": "count",
    "pipeline.cpu_s": "s", "pipeline.gc_s": "s",
    "pipeline.shuffle_write_bytes": "B", "pipeline.spill_bytes": "B",
    "pipeline.task_max_over_p50": "ratio", "pipeline.driver_only_s": "s",
    "pipeline.output_files": "count",
    "pipeline.compact_s": "s", "pipeline.compact_files_before": "count",
    "pipeline.compact_files_after": "count", "pipeline.retention_s": "s",
    "pipeline.retention_deleted_parts": "count",
    "rollup.rollup_1m_s": "s", "rollup.fold_1h_s": "s", "rollup.fold_1d_s": "s",
    "rollup.shuffle_write_bytes": "B", "rollup.task_max_over_p50": "ratio",
    "skew.hot_keys_s": "s", "skew.salted_layout_s": "s", "skew.salted_rows": "count",
    "blobs.encode_1m_s": "s", "blobs.identity_udf_s": "s",
    "blobs.encode_task_max_over_p50": "ratio", "blobs.decode_day_s": "s",
    "gorilla.encode_mb_per_s": "MB/s", "gorilla.decode_mb_per_s": "MB/s",
    "gorilla.bytes_per_point_1m": "B/point", "gorilla.bytes_per_point_1h": "B/point",
    "gorilla.bytes_per_point_1d": "B/point",
    "host.steal_pct": "%", "host.calib_s": "s", "trace.overhead_pct": "%",
}
