"""Benchmark entry point.

    python3 perfbench/run.py --workload <cdc_merge|snapshot_serve|ops_mix>
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test
    python3 perfbench/run.py --workload ops_mix --seed 1 --seconds 5
        --trace 0 --record perfbench/ops_mix_expected.tsv

Builds the engine and the benchmark (build.py), runs one workload in one
JVM on local[<cores>] inside a fresh temp root under the build dir, and
prints the workload's detail line and then, as the last line, the result
JSON. The temp root (state, warehouse, checkpoints, spark.local.dir,
java.io.tmpdir) is removed at exit. Exits nonzero without a result on a
harness fault.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

sys.dont_write_bytecode = True  # leave no __pycache__ in the source tree
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_TIMEOUT_S = 170
RESULT = "PERFBENCH_RESULT "


def java(jvm, root, main, args):
    """Run one JVM in `root`; return (exit code, stdout lines)."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp)
    classpath, opts = jvm
    cmd = build.java_cmd(classpath, tmp, main, args, opts)
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print("perfbench: run timed out after %ds" % RUN_TIMEOUT_S, file=sys.stderr)
        return 1, []
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--record", help="write ops_mix fingerprints to this file")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    # a terminated run still stops its JVM and removes its root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    jvm = build.ensure()
    runs = os.path.join(build.build_dir(), "runs")
    os.makedirs(runs, exist_ok=True)
    root = tempfile.mkdtemp(prefix="%s-" % (a.workload or "selftest"), dir=runs)
    try:
        if a.self_test:
            code, lines = java(jvm, root, "perfbench.SelfTest", [])
            print("\n".join(lines))
            return code
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds",
                str(a.seconds), "--trace", a.trace, "--root", root]
        expected = os.path.join(build.HERE, "ops_mix_expected.tsv")
        if os.path.exists(expected):
            args += ["--expected", expected]
        if a.record:
            args += ["--record", os.path.abspath(a.record)]
        code, lines = java(jvm, root, "perfbench.Main", args)
        results = [l[len(RESULT):] for l in lines if l.startswith(RESULT)]
        for l in lines:
            if not l.startswith(RESULT):
                print(l)
        if code != 0 or len(results) != 1:
            print("perfbench: run failed (exit %d)" % code, file=sys.stderr)
            return 1
        json.loads(results[0])
        print(results[0])
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
