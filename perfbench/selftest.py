#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs (scale factor 0.001).

    python3 perfbench/selftest.py

Runs one short untraced and one short traced run per workload from the
current directory (the root of a checkout) and asserts that every metric
named in BENCHMARK.json is emitted with its unit, that the report carries
the latency sample counts, and that nothing failed.  Exits 0 on success.
"""

from __future__ import annotations

import json
import subprocess
import sys

# the report line's end-to-end metrics per workload, beside the contract's
REPORTED = {
    "queries": ["query_p50_s", "query_tail_s"],
    "migrate_deploy": ["deploy_p50_s", "deploy_tail_s", "status_p50_s", "status_tail_s"],
}
COMMON = ["setup_s", "wall_s", "fail_ratio", "peak_rss_mb"]


def run(workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "0", "--trace", str(trace), "--sf", "0.001"]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    if proc.returncode != 0:
        sys.exit(f"{workload} trace={trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    report, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    return report, result


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            report, result = run(w["name"], trace)
            want = {m["name"]: m["unit"] for m in bench[section]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, f"{w['name']} {section}: {got} != {want}"
            assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
            assert result["correct"] and result["failed"] == 0, report["errors"]
            assert result["attempted"] >= 1
            e2e = report["end_to_end"]
            assert set(e2e) == set(COMMON + REPORTED[w["name"]]), sorted(e2e)
            assert all(m["unit"] and m["n"] >= 1 for m in e2e.values()), e2e
            assert all("percentile" in e2e[k] for k in e2e if k.endswith("_tail_s"))
            assert e2e["fail_ratio"]["value"] == 0
            if trace == 0:
                assert all(result["metrics"][k]["value"] > 0 for k in want), result["metrics"]
            print(f"ok {w['name']} {section}: {len(got)} metrics, "
                  f"{result['attempted']} operations")
    return 0


if __name__ == "__main__":
    sys.exit(main())
