"""Flow benchmark entry point.

  python3 flowbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program and the benchmark from
source (flowbench/build.py, cached), generates the workload's inputs from
the seed (flowbench/gen.py), runs the timed flow in one JVM
(flowbench.Main), and prints, as the last line of standard output, one
JSON object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones. See
flowbench/README.md.
"""

import argparse
import json
import os
import re
import shutil
import socket
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("study-bundles", "study-load", "study-reload", "curation-batches")
JVM_TIMEOUT_S = 160  # the run must end within 180 s, generation and clean-up included
JAVA_OPTS = [
    "-Xmx3g", "-XX:-UsePerfData",
    "-Dlog4j2.configurationFile=classpath:log4j2-graft-tooling.properties",
] + [opt for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for opt in ("--add-opens", f"{p}=ALL-UNNAMED")]


def testdata_dir():
    """The test-data root TESTDATA.md documents (its sf0.001 path, one level
    up), else ~/testdata."""
    doc = os.path.join(os.getcwd(), "TESTDATA.md")
    m = re.search(r"`([^`]+)/sf0\.001/?`", open(doc).read() if os.path.isfile(doc) else "")
    return m.group(1) if m else os.path.expanduser("~/testdata")


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--testdata", default=None, help="test-data root (default: see TESTDATA.md)")
    p.add_argument("--scale", default=None, help="override the workload's test-data scale")
    args = p.parse_args(argv)
    args.testdata = args.testdata or testdata_dir()

    build.build()
    cpus = os.cpu_count() or 4
    work = os.path.join(build.BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        inputs = os.path.join(work, "input")
        port = free_port() if args.workload in ("study-load", "study-reload") else 0
        gen = [sys.executable, os.path.join(build.BENCH_DIR, "gen.py"),
               "--workload", args.workload, "--seed", str(args.seed), "--out", inputs,
               "--testdata", args.testdata, "--port", str(port)]
        if args.scale:
            gen += ["--scale", args.scale]
        t0 = time.monotonic()
        subprocess.run(gen, check=True)
        gen_s = time.monotonic() - t0

        report = os.path.join(work, "report.json")
        log = os.path.join(work, "jvm.log")
        cmd = ["java", f"-Djava.io.tmpdir={work}/tmp"] + JAVA_OPTS + [
            "-cp", build.classpath(), "flowbench.Main",
            "--workload", args.workload, "--input", inputs, "--work", work,
            "--report", report, "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--seed", str(args.seed), "--cpus", str(cpus), "--port", str(port)]
        with open(log, "w") as lf:
            try:
                r = subprocess.run(cmd, stdout=lf, stderr=lf, timeout=JVM_TIMEOUT_S)
                rc = r.returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.isfile(report):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-4000:])
            sys.exit(f"flowbench: JVM failed ({rc})")
        with open(report) as f:
            rep = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = rep["metrics"]
    if args.trace:
        metrics["bench.gen_s"] = {"value": gen_s, "unit": "s"}
    d = rep["detail"]
    print(f"flowbench: workload={args.workload} seed={args.seed} digest={rep['digest']} "
          f"gen_s={gen_s:.3f} job_floor_s={d['job_floor_s']:.4f} cpu_ref_s={d['cpu_ref_s']:.4f}"
          f" pass_s={[round(x, 3) for x in d['pass_s']]}"
          + (f" batch_tail_percentile={d['batch_tail_percentile']:.1f}"
             f" batch_samples={d['batch_samples']}" if "batch_tail_percentile" in d else ""))
    for failure in rep["failures"]:
        print(f"flowbench: check failed: {failure}", file=sys.stderr)
    print(json.dumps({"correct": rep["correct"], "attempted": rep["attempted"],
                      "failed": rep["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
