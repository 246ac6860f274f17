"""Build graft and the benchmark from source.

Compiles the library (`src/main/scala`) and the benchmark
(`graftbench/src`) in one pass with the Scala compiler that ships among
Spark's jars, into `<build dir>/classes`. The build dir is
`$CARGO_TARGET_DIR` when set (relative paths resolve against the repo
root), else `.bench_build`. A stamp over every source file makes a
second build with unchanged sources a no-op.

    python3 graftbench/build.py          # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent


class BuildError(RuntimeError):
    pass


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the directory the
    repo's own build.sbt takes its unmanaged jars from."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("cannot find Spark's jars: set SPARK_HOME")


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources():
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        raise BuildError(f"no graft sources under {lib.relative_to(ROOT)}")
    return sorted(lib.rglob("*.scala")) + sorted((BENCH_DIR / "src").rglob("*.scala"))


def java():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").is_file():
        return str(Path(home) / "bin" / "java")
    return "java"


def build():
    """Compile if the sources changed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    stamp = h.hexdigest()
    out = build_dir()
    classes = out / "classes"
    if (classes / ".stamp").is_file() and (classes / ".stamp").read_text() == stamp:
        return classes
    def jar(prefix):
        found = sorted(jars.glob(prefix + "*.jar"))
        if not found:
            raise BuildError(f"no {prefix}*.jar among Spark's jars")
        return str(found[0])
    compiler_cp = os.pathsep.join(
        jar(p) for p in ("scala-compiler-", "scala-library-", "scala-reflect-"))
    staging = out / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}", "-cp", compiler_cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(staging),
           "-classpath", os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar"))),
           f"@{argfile}"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    (staging / ".stamp").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"graftbench build: {e}", file=sys.stderr)
        sys.exit(2)
