"""Build file of the benchmark: compiles the engine (src/main/scala plus
its resources) and the benchmark harness (perfbench/src) into
.bench_build/ under the repository root.

    python3 perfbench/build.py        # from the repository root

Needs a JDK and a Spark 4 distribution: SPARK_HOME, or spark-submit on
PATH. The Scala compiler is the one Spark ships in its jars, so nothing
is fetched. Each stage is skipped when a hash of its inputs matches the
last build.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent
OUT = ROOT / ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(pathlib.Path(submit).resolve().parent.parent) if submit else ""
    jars = pathlib.Path(home) / "jars" if home else None
    if jars is None or not jars.is_dir():
        raise SystemExit("perfbench: no Spark distribution (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = pathlib.Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else "java"


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile(name, sources, classpath, resources=(), salt=""):
    """Compile `sources` into .bench_build/<name>; returns the directory
    and the stamp of its inputs."""
    dest = OUT / name
    stamp_file = OUT / f"{name}.stamp"
    stamp = _digest(list(sources) + [r for _, r in resources], salt)
    if dest.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return dest, stamp
    shutil.rmtree(dest, ignore_errors=True)
    dest.mkdir(parents=True)
    cp = os.pathsep.join([str(spark_jars() / "*")] + list(classpath))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(dest)] + [str(s) for s in sources]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout)
        raise SystemExit(f"perfbench: compiling {name} failed")
    for rel, src in resources:
        (dest / rel).parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(src, dest / rel)
    stamp_file.write_text(stamp)
    return dest, stamp


def build():
    """Compile what changed; returns the run-time classpath."""
    scala = ROOT / "src" / "main" / "scala"
    prog = sorted(scala.rglob("*.scala")) if scala.is_dir() else []
    if not prog:
        raise SystemExit(f"perfbench: no engine sources under {scala.relative_to(ROOT)}")
    res_root = ROOT / "src" / "main" / "resources"
    res = sorted((p.relative_to(res_root), p) for p in res_root.rglob("*") if p.is_file()) \
        if res_root.is_dir() else []
    engine, stamp = _compile("engine", prog, [], res)
    bench, _ = _compile("bench", sorted((BENCH / "src").rglob("*.scala")), [str(engine)],
                        salt=stamp)
    return os.pathsep.join([str(bench), str(engine), str(spark_jars() / "*")])


if __name__ == "__main__":
    print(build())
