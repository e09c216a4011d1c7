#!/usr/bin/env python3
"""Tiny-scale self-check of the benchmark.

Runs every workload of BENCHMARK.json once untraced and once traced at
`--scale tiny`, and asserts that each run exits 0, that every output
check passed, and that the result line names every end-to-end (untraced)
or per-layer (traced) metric of BENCHMARK.json with its unit.

    python3 perfbench/selfcheck.py      # about 4 minutes on 4 cores
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run(workload: str, trace: str) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "2", "--trace", trace, "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    assert p.returncode == 0, f"{workload} trace={trace}: exit {p.returncode}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in spec["workloads"]:
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            r = run(w["name"], trace)
            assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
            assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1, r
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            assert got == want, f"{w['name']} trace={trace}: metrics differ: " \
                f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, " \
                f"units {[k for k in want if k in got and got[k] != want[k]]}"
            assert all(isinstance(v["value"], (int, float)) for v in r["metrics"].values()), r
            print(f"ok {w['name']} trace={trace}: {len(got)} metrics, {r['attempted']} ops and checks")
    return 0


if __name__ == "__main__":
    sys.exit(main())
