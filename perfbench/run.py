#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload rmat_batch --seed 1 --seconds 10 --trace 0

Builds the library and the driver first (see build.py), then runs the driver
in one JVM. The last line of standard output is the result: one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones.
The run's artifact (Spark config, input sizes, per-pass receipts and checks)
and, when traced, its spans are kept under ``.bench_build/runs/``.
"""
import argparse
import json
import pathlib
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("rmat_batch", "corpus_dedup")
HEAP = "3g"
# a run must end within 180 s; the driver JVM gets what is left after this
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would pass (org.apache.spark.launcher.JavaModuleOptions)
OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        return 2

    run_dir = build.BUILD / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = [build.java(), f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--out", str(run_dir)]
    log_path = run_dir / "jvm.log"
    # a SIGTERM must still stop the JVM: turn it into an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            shutil.rmtree(tmp, ignore_errors=True)
    lines = log_path.read_text(errors="replace").splitlines()
    for line in lines:
        if line.startswith("[graftbench]"):
            print(line, file=sys.stderr)
    result_path = run_dir / "result.json"
    if rc != 0 or not result_path.is_file():
        why = "timed out" if rc is None else f"exited with {rc}"
        print(f"driver {why}; last log lines:", file=sys.stderr)
        print("\n".join(lines[-30:]), file=sys.stderr)
        return 1
    result = json.loads(result_path.read_text())
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
