"""Self-test of the benchmark: runs every workload of `run.py` at sf0.001
with a few ops and asserts that

  * every metric BENCHMARK.json names is printed, with its unit
    (end-to-end metrics untraced, per-layer metrics traced);
  * an unmodified run checks clean (failed = 0);
  * a planted wrong expected result is caught (failed = 1).

    python3 perfbench/selftest.py

Run from the repository root; exits non-zero on the first failed assertion.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run as bench_run  # noqa: E402


def run(workload, trace, plant):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           "--scale", "0.001", "--max-ops", "3"]
    if plant:
        cmd.append("--plant-bad-hash")
    out = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def expect(cond, what):
    if not cond:
        sys.exit(f"selftest FAILED: {what}")
    print(f"ok   {what}")


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    # Every workload run.py knows, including any BENCHMARK.json leaves out.
    for wl in bench_run.WORKLOADS:
        for trace, plant, spec in ((0, False, bench["end_to_end"]),
                                   (1, True, bench["per_layer"])):
            res = run(wl, trace, plant)
            got = res["metrics"]
            missing = [m["name"] for m in spec if m["name"] not in got]
            expect(not missing, f"{wl} trace={trace}: every metric printed {missing}")
            wrong = [m["name"] for m in spec
                     if m["name"] in got and got[m["name"]]["unit"] != m["unit"]]
            expect(not wrong, f"{wl} trace={trace}: units match {wrong}")
            if plant:
                expect(res["failed"] == 1 and not res["correct"],
                       f"{wl}: planted wrong expected result caught")
            else:
                expect(res["failed"] == 0 and res["correct"],
                       f"{wl}: failed_frac = 0 ({res['failed']}/{res['attempted']})")
    print("selftest passed")


if __name__ == "__main__":
    main()
