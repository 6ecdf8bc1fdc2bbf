#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload scan_large --seed 1 --seconds 16 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first call compiles the repository's
main Scala sources, then the harness under perfbench/scala (see
build.py); later calls reuse the classes while the sources are
unchanged. The harness JVM generates the seeded inputs (cached per
workload and seed), times the workload and prints one JSON result as
the last line of standard output. Everything it writes stays under
perfbench/.work.
"""
import argparse
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing outside perfbench/.work
import build  # noqa: E402

WORKLOADS = ("scan_large", "scan_many_small", "corpus_curate")
HEAP = "3g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None
                           or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if a.selftest:
        args = ["--selftest"]
    else:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    cmd = (["java", "-XX:-UsePerfData"] + build.JVM_OPENS +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:CompileThresholdScaling=0.1", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + build.spark_jars(),
            "perfbench.Main", "--work", work] + args)
    env = dict(os.environ, GRAFT_TMP_DIR=os.path.join(tmp, "graft"))
    # the JVM's stdout passes straight through: its last line is the
    # result; Spark's log goes to stderr. The heap is fixed at its
    # maximum so that heap resizing does not vary from run to run.
    return subprocess.run(cmd, env=env).returncode


if __name__ == "__main__":
    sys.exit(main())
