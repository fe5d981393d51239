"""Smoke test of the flow benchmark: every listed workload once, untraced,
on sf0.001-sized inputs, with all output checks. Exits non-zero when a run
fails, a check fails, or a metric is missing, non-numeric or not positive.

  python3 flowbench/smoke_test.py      # from the repository root
"""

import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def main():
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"]]
    bad = []
    for w in (x["name"] for x in spec["workloads"]):
        cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
               "--seed", "1", "--seconds", "1", "--trace", "0", "--scale", "sf0.001"]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            bad.append(f"{w}: exit {r.returncode}")
            continue
        res = json.loads(lines[-1])
        print(f"{w}: {lines[-2] if len(lines) > 1 else ''}")
        if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
            bad.append(f"{w}: correct={res['correct']} failed={res['failed']}")
        got = res["metrics"]
        for n in names:
            v = got.get(n, {}).get("value")
            if not isinstance(v, (int, float)) or v <= 0:
                bad.append(f"{w}: metric {n} = {v!r}")
        extra = set(got) - set(names)
        if extra:
            bad.append(f"{w}: unlisted metrics {sorted(extra)}")
    for b in bad:
        print("FAIL", b)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
