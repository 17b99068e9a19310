"""KG-build benchmark entry point.

    python3 kgbench/run.py --workload <papers_build|vocab_relink>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the repository's KG pipeline and the benchmark from source (see
build.py), then runs one benchmark JVM on local[nproc]: it lands the
workload's seeded inputs, runs a closed loop of one operation at a time
for --seconds, checks every operation's outputs, and prints a context
line and, last, one JSON result line. --trace 1 makes the run the
separate traced run, which prints the per-layer metrics and writes its
spans under .bench_build/kgbench/traces/. Everything the run writes stays
under .bench_build/ in the checkout; its work directory is removed at exit.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("papers_build", "vocab_relink")
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    a = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"kgbench: {e}", file=sys.stderr)
        return 2

    out = build.OUT
    work = out / f"work-{os.getpid()}"
    logs = out / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "kgbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work),
            "--trace-out", str(out / "traces" / f"{tag}.json")]
    log_path = logs / f"{tag}.log"
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    cwd=str(work))
            try:
                stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                print(f"kgbench: run exceeded {JVM_TIMEOUT_S} s; log: {log_path}", file=sys.stderr)
                return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        tail = log_path.read_text(errors="replace").splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        print(f"kgbench: benchmark JVM exited {proc.returncode}; log: {log_path}", file=sys.stderr)
        return 4
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        print(f"kgbench: malformed result line: {lines[-1][:500]}", file=sys.stderr)
        return 5
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
