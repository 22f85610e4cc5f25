#!/usr/bin/env python3
"""Self-test of the benchmark on the smallest inputs.

    python3 perfbench/selftest.py

Runs every workload of BENCHMARK.json with ``--smoke`` (the ER workload on
the 60-conversation ``xs`` corpus; the battery's sf0.001 tables are already
the smallest), once untraced and once traced, and checks that each run
exits 0, reports correct outputs and emits exactly the metrics
BENCHMARK.json names, each with its unit. Takes about seven minutes on four
cores.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# above run.py's 170 s watchdog, so a slow run reports its own error
TIMEOUT_S = 200


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"),
           "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), "--smoke"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=TIMEOUT_S)
    if out.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {out.returncode}\n"
                         f"{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bad = []
    for wl in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(wl["name"], trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            where = f"{wl['name']} trace={trace}"
            if got != want:
                bad.append(f"{where}: metrics differ from BENCHMARK.json: "
                           f"missing {sorted(want.keys() - got.keys())}, "
                           f"extra {sorted(got.keys() - want.keys())}, "
                           f"unit mismatch {sorted(k for k in want.keys() & got.keys() if want[k] != got[k])}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                bad.append(f"{where}: correct={res['correct']} "
                           f"attempted={res['attempted']} failed={res['failed']}")
            print(f"{where}: {len(got)} metrics, correct={res['correct']}",
                  flush=True)
    for b in bad:
        print(f"FAIL {b}")
    print("selftest:", "FAIL" if bad else "OK")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
