"""Benchmark of the tsforge_spark rollup engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 20 --trace 0

One run is one process with one ``local[nproc]`` Spark session and one
closed-loop client.  The workload's inputs are generated from ``--seed``
on the executors (``perfbench/gen.py``); the program only sees the
generated inputs.  Untimed operations come first (bulk_ingest: a
warm-up of the timed shape and size; daily_delta: the base build); the
timed phase is a fixed number of operations derived from ``--seconds``
alone, so every seed runs the same sequence.  Outputs are checked after
timing, and every failed operation or check counts in ``failed``.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (spans,
status-store reads and layer probes; the spans go to
``.bench_build/traces/``).  The line before it records the generation
time, each operation's index and wall, and the host stamps (steal share
and a fixed calibration loop at start and end), which annotate the run
and never adjust a metric.

Everything the run writes goes under ``.bench_build/`` in the checkout,
Spark's local and temp dirs included; the run's work dir is removed at
the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))


class Bench:
    """One benchmark run: its session, its counters and its tracer."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        from spans import Tracer

        self.seed, self.seconds = seed, seconds
        self.work = os.path.join(root, ".bench_build", f"perfbench-{workload}-{seed}-{os.getpid()}")
        self.tracer = Tracer(enabled=trace)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.info: dict = {"ops": []}
        self.spark = None

    def session(self):
        """Start the run's one session and absorb its first-job costs."""
        from tsforge_spark.session import get_spark, warm_start

        ncpu = len(os.sched_getaffinity(0))
        confs = {"spark.sql.warehouse.dir": os.path.join(self.work, "warehouse")}
        with self.tracer.span("session.start"):
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench", master=f"local[{ncpu}]", extra_confs=confs)
            self.info["session_start_s"] = time.perf_counter() - t0
        self.tracer.bind(self.spark)
        with self.tracer.span("session.warm_start"):
            t0 = time.perf_counter()
            warm_start(self.spark)
            self.info["warm_start_s"] = time.perf_counter() - t0
        return self.spark

    def stop(self) -> None:
        """Stop the session and the JVM, and wait until it has exited."""
        if self.spark is None:
            return
        gw = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(60)
            except Exception:  # noqa: BLE001 — kill what did not exit
                proc.kill()
                proc.wait()

    def op(self, fn):
        """Run one operation; a raised error counts as failed, returns None."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — a failed op is a result
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            traceback.print_exc(file=sys.stderr)
            return None

    def check(self, name: str, ok: bool, detail="") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"check failed: {name}: {detail}")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tsforge_spark", "plans", "pipeline.py")):
        print("perfbench: run from the root of a tsforge_spark checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    import workloads
    from spans import calibrate, cpu_ticks, steal_pct

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    b = Bench(root, args.workload, args.seed, args.seconds, bool(args.trace))
    # Spark, its python workers and temp files all stay inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(b.work, "spark-local")
    tmp = os.path.join(b.work, "tmp")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # every JVM (Spark's launcher too): temp files in the checkout, and no
    # hsperfdata file, which the JVM would write under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.makedirs(tmp, exist_ok=True)
    calib = [calibrate()]
    ticks0 = cpu_ticks()
    t0 = time.perf_counter()
    try:
        e2e, layers = workloads.WORKLOADS[args.workload](b)
    finally:
        b.info["workload_s"] = time.perf_counter() - t0
        b.stop()
        shutil.rmtree(b.work, ignore_errors=True)
        b.info["total_s"] = time.perf_counter() - t0
    steal = steal_pct(ticks0, cpu_ticks())
    calib.append(calibrate())
    b.info.update(workload=args.workload, seed=args.seed, steal_pct=steal, calib_s=calib,
                  errors=b.errors[:20])
    if b.tracer.enabled:
        layers["host.steal_pct"] = steal
        layers["host.calib_s"] = sum(calib) / len(calib)
        b.tracer.dump(os.path.join(root, ".bench_build", "traces",
                                   f"{args.workload}-{args.seed}.json"),
                      {"info": b.info, "layers": layers})
    metrics = layers if args.trace else e2e
    print(json.dumps(b.info, default=str))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(v), "unit": workloads.UNITS[k]}
                    for k, v in metrics.items() if v is not None},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
