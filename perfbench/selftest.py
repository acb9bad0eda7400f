#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (about eight minutes on 4 cores).

    python3 perfbench/selftest.py [workload ...]

For every workload it checks that
- a plain run passes every gate and prints every end-to-end metric of
  BENCHMARK.json, with its unit;
- a traced run prints every per-layer metric, with its unit;
- with one output row dropped, and with one output value altered, every
  gate the run reaches trips (so the gates can fail);
and that the benchmark refuses to run, printing no result, from a
directory that holds only BENCHMARK.json and perfbench/.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(cwd: str, workload: str, *extra: str) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--tiny", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, f"exit {p.returncode}:\n{p.stderr[-3000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def same_metrics(res: dict, wanted: list[dict]) -> None:
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    want = {m["name"]: m["unit"] for m in wanted}
    assert got == want, f"metrics differ: missing {set(want) - set(got)}, extra {set(got) - set(want)}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{k} is not a number"


def check_workload(spec: dict, workload: str) -> None:
    res = result(bench(ROOT, workload, "--trace", "0"))
    assert res["correct"] and res["failed"] == 0, res
    same_metrics(res, spec["end_to_end"])
    assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]

    res = result(bench(ROOT, workload, "--trace", "1"))
    assert res["correct"], res
    same_metrics(res, spec["per_layer"])

    for mode in ("drop", "alter"):
        p = bench(ROOT, workload, "--trace", "0", "--tamper", mode)
        res = result(p)
        gates = int(re.search(r"^gates: (\d+)$", p.stderr, re.M).group(1))
        tripped = p.stderr.count("FAILED gate:")
        assert gates > 0 and tripped == gates == res["failed"], (
            f"{mode}: {tripped} of {gates} gates tripped, {res['failed']} failed")
    print(f"ok {workload}", flush=True)


def check_refuses_without_engine(workload: str) -> None:
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_selftest") as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = bench(d, workload, "--trace", "0")
    assert p.returncode != 0 and '"metrics"' not in p.stdout, (p.returncode, p.stdout)
    print("ok refuses to run without the engine", flush=True)


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = argv or [w["name"] for w in spec["workloads"]]
    check_refuses_without_engine(names[0])
    for w in names:
        check_workload(spec, w)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
