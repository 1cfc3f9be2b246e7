"""Benchmark entry point. Run from the repo root:

    python3 perfbench/run.py --workload udf_batch --seed 1 --seconds 10 --trace 0

Builds the engine and the harness (perfbench/build.py), then runs one
workload in one JVM on local[N], N = the number of processors. The last
line of standard output is the result JSON. Workloads: udf_batch,
sql_relational, pipeline_jobs, udf_lifecycle. See perfbench/README.md.

`--record FILE` writes the per-entry result fingerprints of the entry
workloads to FILE instead of checking them against perfbench/expected.txt.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record")
    a = ap.parse_args()

    data = os.path.join(HERE, "data")
    if not os.path.isdir(data):
        sys.exit("perfbench: missing input tables (perfbench/data)")
    cp = build.build()

    work = os.path.join(build.BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    traces = os.path.join(build.BUILD, "traces")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    # a fixed-size heap and young generation, so peak RSS follows the work
    # done rather than the collector's sizing decisions
    cmd = ["java", "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--traces", traces]
    cmd += ["--record", a.record] if a.record else ["--expected", os.path.join(HERE, "expected.txt")]

    # also reaches the engine's `proc:` guest JVMs: no perf-data files and
    # no temp files outside the work directory
    env = dict(os.environ, JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    watchdog = threading.Timer(JVM_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            last = line.strip()
        proc.wait()
    finally:
        watchdog.cancel()
        # the engine's `proc:` guests are children of the JVM
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not last.startswith('{"correct"'):
        sys.exit(f"perfbench: run failed (exit {proc.returncode})")


if __name__ == "__main__":
    main()
