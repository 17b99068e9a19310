"""Build file of the benchmark package.

Compiles the KG build (`src/main/scala` at the repository root) and the
benchmark (`kgbench/src`) with the Scala compiler that ships among Spark's
jars (`$SPARK_HOME/jars`), into `.bench_build/kgbench/`. A stamp of the
source digests skips the compile when nothing changed.

    python3 kgbench/build.py          # prints the runtime classpath
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "kgbench"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark 4.x distribution")
    jars = pathlib.Path(home) / "jars"
    if not list(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar under {jars}")
    return jars


def sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(srcs, out, classpath, jars):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", classpath] + [str(s) for s in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def build():
    """Returns the runtime classpath, compiling first when sources changed."""
    jars = spark_jars()
    app_src = sources(ROOT / "src" / "main" / "scala")
    bench_src = sources(BENCH / "src")
    if not app_src:
        raise BuildError(f"no Scala sources under {ROOT / 'src' / 'main' / 'scala'}")
    app, bench = OUT / "app", OUT / "bench"
    app_want = digest(app_src) + "\n" + str(jars) + "\n"
    bench_want = app_want + digest(bench_src) + "\n"
    OUT.mkdir(parents=True, exist_ok=True)
    for srcs, out, cp, want in ((app_src, app, f"{jars}/*", app_want),
                                (bench_src, bench, f"{app}:{jars}/*", bench_want)):
        stamp = out.with_suffix(".stamp")
        if not (stamp.is_file() and stamp.read_text() == want and out.is_dir()):
            if stamp.exists():
                stamp.unlink()
            scalac(srcs, out, cp, jars)
            stamp.write_text(want)
    return f"{app}:{bench}:{jars}/*"


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
