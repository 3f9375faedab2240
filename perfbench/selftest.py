"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

Checks that (1) generated inputs are byte-identical for one seed and
(2) differ for another, (3) every metric name in BENCHMARK.json and in
run.py matches ``[A-Za-z0-9_.-]+`` and the two lists agree, and (4) each
workload completes a tiny-size smoke run, traced and untraced, printing a
correct result with exactly the declared metrics. Exits non-zero on the
first failure.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import inputs  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _digest(dir_: str) -> dict:
    out = {}
    for d, _, files in os.walk(dir_):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, dir_)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _build(dir_: str, seed: int) -> dict:
    shutil.rmtree(dir_, ignore_errors=True)
    inputs.write_pages(os.path.join(dir_, "pages.parquet"), 50, seed)
    inputs.write_registry_tables(os.path.join(dir_, "registry"), seed, 200, 80)
    with open(os.path.join(dir_, "catalog_names.txt"), "w") as f:
        f.write("\n".join(inputs.large_catalog(300, seed)["ents"]))
    return _digest(dir_)


def check_inputs(work: str) -> None:
    a = _build(os.path.join(work, "a"), 11)
    b = _build(os.path.join(work, "b"), 11)
    c = _build(os.path.join(work, "c"), 12)
    if a != b:
        raise SystemExit(f"inputs differ for one seed: {sorted(k for k in a if a[k] != b.get(k))}")
    same = sorted(k for k in a if a[k] == c.get(k))
    # nation.parquet is seed-independent by construction (fixed 25 rows)
    if [k for k in same if not k.endswith("nation.parquet")]:
        raise SystemExit(f"inputs identical across seeds: {same}")
    print("ok: inputs are byte-identical per seed and differ across seeds")


def check_names() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {
        "end_to_end": [m["name"] for m in bench["end_to_end"]],
        "per_layer": [m["name"] for m in bench["per_layer"]],
        "workloads": [w["name"] for w in bench["workloads"]],
    }
    for kind, names in declared.items():
        bad = [n for n in names if not NAME.fullmatch(n)]
        if bad or len(set(names)) != len(names):
            raise SystemExit(f"bad or repeated {kind} names: {bad or names}")
    if declared["end_to_end"] != list(run.END_TO_END) or declared["per_layer"] != list(run.PER_LAYER):
        raise SystemExit("BENCHMARK.json metric lists differ from run.py")
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if units != {**run.END_TO_END, **run.PER_LAYER}:
        raise SystemExit("BENCHMARK.json units differ from run.py")
    if sorted(declared["workloads"]) != sorted(run.WORKLOADS):
        raise SystemExit("BENCHMARK.json workloads differ from run.py")
    print(f"ok: {len(units)} metric names match {NAME.pattern} and run.py")


def smoke(workload: str, trace: int) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=400)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"smoke {workload} trace={trace}: exit {proc.returncode}\n{proc.stdout}")
    res = json.loads(lines[-1])
    want = run.PER_LAYER if trace else run.END_TO_END
    if (
        sorted(res) != ["attempted", "correct", "failed", "metrics"]
        or not res["correct"] or res["failed"] or res["attempted"] < 1
        or sorted(res["metrics"]) != sorted(want)
        or any(m["unit"] != want[k] for k, m in res["metrics"].items())
    ):
        raise SystemExit(f"smoke {workload} trace={trace}: bad result {lines[-1][:400]}")
    if not trace and any(m["value"] <= 0 for m in res["metrics"].values()):
        raise SystemExit(f"smoke {workload}: an end-to-end metric is not positive")
    print(f"ok: smoke {workload} trace={trace}")


def main() -> int:
    work = os.path.join(os.getcwd(), ".perfbench_work", "selftest")
    check_inputs(work)
    check_names()
    for w in sorted(run.WORKLOADS):
        for trace in (0, 1):
            smoke(w, trace)
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
