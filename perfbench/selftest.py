#!/usr/bin/env python3
"""Self-test of the benchmark's fail-loud path.

    python3 perfbench/selftest.py [workload] [lane]

Runs run.py with LANE's function replaced by one that throws (defaults:
rec_daily, q21_rec_dot) and checks that the run reports it: the result line
says correct=false with failed > 0, stdout and the artifact name the lane,
and no pass sample includes any time of the failed lane. Exits 0 when all
of that holds.
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def main():
    workload = sys.argv[1] if len(sys.argv) > 1 else "rec_daily"
    lane = sys.argv[2] if len(sys.argv) > 2 else "q21_rec_dot"
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", "0", "--inject-fault", lane],
        capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    artifact = json.loads(Path(next(
        ln.split()[1] for ln in lines if ln.startswith("artifact "))).read_text())
    checks = {
        "run.py exits 0": proc.returncode == 0,
        "correct is false": result["correct"] is False,
        "failed counts the lane": result["failed"] > 0,
        "stdout names the lane": any(ln.startswith(f"FAILED lane {lane}:") for ln in lines),
        "artifact names the lane": lane in artifact["failed_lanes"],
        "error_rate above 0": artifact["error_rate"] > 0,
    }
    timed = [p for p in artifact["passes"] if p["kind"] in ("cold", "warm")]
    kept = [sum(l["build_s"] + l["sink_s"] for l in p["lanes"] if l["lane"] != lane)
            for p in timed]
    checks["no sample includes the failed lane"] = (
        sorted(artifact["cold_samples_s"] + artifact["warm_samples_s"]) == sorted(kept))
    for name, ok in checks.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    sys.exit(0 if all(checks.values()) else 1)


if __name__ == "__main__":
    main()
