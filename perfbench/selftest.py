#!/usr/bin/env python3
"""Quick self-test of the benchmark at sf0.001 (about three minutes).

    python3 perfbench/selftest.py

Runs ``run.py`` on ``f1_dashboard`` untraced and traced and checks that:
every metric in BENCHMARK.json is printed with its unit; traced spans
nest inside their request in time and in job-id window; the seeded
request sequence repeats for one seed and changes for another; and the
workload's premise holds (no Python evaluation, no fsutil calls, no
Python-worker CPU).
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path[:0] = [str(REPO)]

from perfbench.run import artifact_name  # noqa: E402
from perfbench.trace import FSUTIL_COUNTED  # noqa: E402
from perfbench.workloads import WORKLOADS, pass_order  # noqa: E402

WORKLOAD, SF, SEED = "f1_dashboard", "sf0.001", 1


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def run(trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, str(HERE / "run.py"), "--workload", WORKLOAD, "--seed", str(SEED),
        "--seconds", "1", "--trace", str(trace), "--sf", SF,
    ]
    out = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE, check=True, text=True, timeout=600)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    artifact = json.loads((REPO / ".perfbench_out" / artifact_name(WORKLOAD, SF, SEED, trace)).read_text())
    return result, artifact


def check_metrics(result: dict, declared: list[dict], kind: str) -> None:
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    check(got == want, f"{kind} metrics printed by name with their units")
    check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, f"{kind} run correct")


def check_spans(spans: list[dict]) -> None:
    by_id = {s["id"]: s for s in spans}
    requests = [s for s in spans if s["name"] == "request"]
    check(bool(requests), "traced run recorded request spans")
    for s in spans:
        if s["name"] == "request":
            continue
        root = s
        while root["parent"] is not None:
            root = by_id[root["parent"]]
        if root["name"] != "request":
            check(False, f"span {s['name']} has no enclosing request")
        if not (root["t0"] <= s["t0"] <= s["t1"] <= root["t1"]):
            check(False, f"span {s['name']} lies outside its request in time")
        (lo, hi), (rlo, rhi) = s["jobs"], root["jobs"]
        if not (rlo <= lo <= hi <= rhi):
            check(False, f"span {s['name']} job window {s['jobs']} exceeds its request's {root['jobs']}")
    check(True, "child spans nest inside their request in time and job-id window")
    names = {s["name"] for s in spans}
    check({"plans.build", "spark.action", "sources.load"} <= names, "build, action and load spans recorded")


def main() -> int:
    bench = json.loads((REPO / "BENCHMARK.json").read_text())

    a, b = pass_order(WORKLOAD, SEED), pass_order(WORKLOAD, SEED)
    check(a == b, "same seed gives the same request sequence")
    check(sorted(a) == sorted(WORKLOADS[WORKLOAD]), "a pass runs every query once")
    check(a != pass_order(WORKLOAD, SEED + 1), "another seed gives another order")

    result, _ = run(0)
    check_metrics(result, bench["end_to_end"], "end-to-end")

    result, artifact = run(1)
    check_metrics(result, bench["per_layer"], "per-layer")
    check_spans(artifact["spans"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    check(m["plan.python_eval"] == 0, f"{WORKLOAD}: no Python evaluation in executed plans")
    check(all(m[f"fsutil.{p}"] == 0 for p in FSUTIL_COUNTED), f"{WORKLOAD}: no fsutil calls")
    check(m["functions.python_worker_cpu_s"] < 0.05, f"{WORKLOAD}: no Python-worker CPU")
    check(m["spark.jobs"] > 0 and m["plan.exchange"] > 0, f"{WORKLOAD}: Spark counters read")
    samples = artifact["samples"]
    keys = {"workload", "pass", "seq", "query", "build_s", "action_s", "jobs", "ok"}
    check(bool(samples) and all(keys <= s.keys() for s in samples), "raw samples carry their fields")
    return 0


if __name__ == "__main__":
    sys.exit(main())
