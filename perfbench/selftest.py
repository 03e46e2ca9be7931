"""Self-test of the benchmark's span recorder and status-store reader.

Run from the root of a checkout:

    python3 perfbench/selftest.py

Checks, with a fake status-store reader: parent links, self time, and a
forced py4j failure that leaves the span's metrics missing instead of
raising.  Then a run in a directory without the program, which must
fail without printing a result, and a traced run of each workload,
whose output must hold every per-layer metric of ``BENCHMARK.json``
with its unit and pass its own output checks.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from spans import Tracer, driver_only, skew, stage  # noqa: E402


class FakeReader:
    """Status-store stand-in: each span start sees one more job; ``window``
    counts the jobs since, or raises the error a dead py4j gateway does."""

    def __init__(self, fail: bool = False):
        self.fail, self.jobs = fail, 0

    def max_job_id(self) -> int:
        self.jobs += 1
        return self.jobs

    def window(self, after_job: int) -> dict:
        if self.fail:
            from py4j.protocol import Py4JError

            raise Py4JError("An error occurred while calling o42.statusStore")
        return {"tasks": self.jobs - after_job, "job_intervals": []}


def test_parent_links_and_self_time():
    tr = Tracer(enabled=True, reader=FakeReader())
    tr.op_id = 7
    with tr.span("a"):
        with tr.span("b"):
            time.sleep(0.01)
            with tr.span("c"):
                time.sleep(0.01)
        with tr.span("d"):
            time.sleep(0.01)
    by = {s["name"]: s for s in tr.spans}
    assert by["a"]["parent"] is None
    assert by["b"]["parent"] == by["a"]["id"] and by["d"]["parent"] == by["a"]["id"]
    assert by["c"]["parent"] == by["b"]["id"]
    assert {s["op"] for s in tr.spans} == {7}
    selft = tr.self_times()
    for s in tr.spans:
        assert 0.0 <= selft[s["id"]] <= s["end"] - s["start"] + 1e-9, s["name"]
    # a's children cover almost all of it
    assert selft[by["a"]["id"]] < 0.5 * (by["a"]["end"] - by["a"]["start"])
    # a parent's job window holds every job its children started
    assert by["a"]["stages"]["tasks"] == 3 and by["c"]["stages"]["tasks"] == 0


def test_py4j_failure_leaves_metrics_missing():
    tr = Tracer(enabled=True, reader=FakeReader(fail=True))
    with tr.span("x") as sp:
        pass
    assert sp["stages"] is None and "Py4JError" in sp["stages_error"]
    assert stage(sp, "cpu_s") is None and skew(sp) is None and driver_only(sp) is None


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x") as sp:
        pass
    assert sp is None and tr.spans == []


def run_bench(cwd: str, workload: str, trace: int, timeout: int):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


def test_fails_without_the_program():
    bare = os.path.join(ROOT, ".bench_build", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = run_bench(bare, "bulk_ingest", 0, 180)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0 and p.stdout.strip() == "", p.stdout


def traced(workload: str) -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = run_bench(ROOT, workload, 1, 600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    res, info = json.loads(lines[-1]), json.loads(lines[-2])
    assert res["correct"] and res["failed"] == 0, info["errors"]
    want = {m["name"]: m["unit"] for m in bench["per_layer"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, set(want) ^ set(got)
    # the status store was read: the pipeline ran tasks
    assert res["metrics"]["pipeline.tasks"]["value"] > 0
    return {k: v["value"] for k, v in res["metrics"].items()} | {"_info": info}


def test_traced_bulk_ingest():
    m = traced("bulk_ingest")
    assert m["skew.salted_rows"] > 0


def test_traced_daily_delta():
    m = traced("daily_delta")
    assert m["pipeline.affected_days"] == 2
    deltas = [o for o in m["_info"]["ops"] if o["kind"] != "base"]
    assert deltas and all(o["affected_days"] == 2 for o in deltas), deltas


TESTS = [test_parent_links_and_self_time, test_py4j_failure_leaves_metrics_missing,
         test_disabled_tracer_records_nothing, test_fails_without_the_program,
         test_traced_bulk_ingest, test_traced_daily_delta]


def main() -> int:
    failed = 0
    for t in TESTS:
        try:
            t()
            print(f"PASS {t.__name__}", flush=True)
        except AssertionError as e:
            failed += 1
            print(f"FAIL {t.__name__}: {str(e)[:2000]}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
