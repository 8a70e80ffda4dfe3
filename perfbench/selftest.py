"""Self-test of the benchmark: every workload, untraced and traced, once.

Checks that each run exits 0 and prints, as its last line, the result
object with ``correct`` true and every metric BENCHMARK.json names, each
with its unit; that the traced run recorded one span per build layer per
bucket and no extract or emit span under the CQ pass; that no run leaves
a process behind; that every name in layers.json is a metric
BENCHMARK.json lists; and that the benchmark fails, printing no result,
where the program under test is absent.

Usage: python3 perfbench/selftest.py      (about five minutes on 4 cores)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402
from run import N_BUCKETS, WORKLOADS  # noqa: E402

BUILD_LAYERS = ("web_pages.scan", "extract", "web_pages.parse", "emit", "canonicalize", "materialize")


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=180)
    # this process is a subreaper, so anything the run left is still below it
    left = [pid for pid in host._tree(os.getpid()) if pid != os.getpid()]
    if left:
        host.stop_tree(os.getpid(), grace_s=0)
        p.returncode, p.stderr = 99, f"left {len(left)} process(es) running\n" + p.stderr
    return p


def check_workload(spec: dict, workload: str) -> list[str]:
    errors = []
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        p = _run(ROOT, workload, trace)
        if p.returncode != 0:
            return [f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}"]
        result = json.loads(p.stdout.strip().splitlines()[-1])
        if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
            errors.append(f"{workload} trace={trace}: keys {sorted(result)}")
        if not result["correct"] or result["failed"] or result["attempted"] < 1:
            errors.append(f"{workload} trace={trace}: checks failed\n{p.stdout[-3000:]}")
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if got != want:
            errors.append(f"{workload} trace={trace}: metrics differ: {set(got.items()) ^ set(want.items())}")
        if trace:
            with open(os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-7.json")) as fh:
                spans = json.load(fh)
            for layer in BUILD_LAYERS:
                buckets = sorted(s["bucket"] for s in spans if s["name"] == layer)
                if buckets != list(range(N_BUCKETS)):
                    errors.append(f"{workload}: layer {layer} spans for buckets {buckets}")
            in_pass = {s["name"] for s in spans if s["parent"] == "pass"}
            if in_pass & {"extract", "emit"}:
                errors.append(f"{workload}: extract/emit spans under the CQ pass")
    return errors


def check_fails_without_program() -> list[str]:
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_empty_") as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(d, next(iter(WORKLOADS)), 0)
    if p.returncode == 0 or p.stdout.strip():
        return [f"expected a failure without the program; exit {p.returncode}, stdout {p.stdout[-500:]!r}"]
    return []


def check_layer_map(spec: dict) -> list[str]:
    with open(os.path.join(HERE, "layers.json")) as fh:
        layers = json.load(fh)["layers"]
    known = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    names = {n for layer in layers for n in layer["metrics"]}
    names |= {m for layer in layers for m, _ in layer["should_move"] + layer["should_not_move"]}
    return [f"layers.json names unknown metric {n}" for n in sorted(names - known)]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if sorted(w["name"] for w in spec["workloads"]) != sorted(WORKLOADS):
        print("BENCHMARK.json workloads differ from run.WORKLOADS")
        return 1
    host.become_subreaper()
    errors = check_layer_map(spec)
    errors += check_fails_without_program()
    for workload in WORKLOADS:
        errors += check_workload(spec, workload)
    for e in errors:
        print("FAIL:", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
