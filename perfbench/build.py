#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala) and then the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in Spark's
jars directory ($SPARK_HOME/jars, else build.sbt's unmanagedBase), into
the build directory ($CARGO_TARGET_DIR, else
.bench_build, relative to the repository root). A stamp over every
source file's path and contents skips the build when nothing changed.

    python3 perfbench/build.py        # prints the two class directories
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the directory the
    sbt build compiles against (unmanagedBase in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text()) if sbt.exists() else None
        if not m:
            raise RuntimeError("SPARK_HOME is unset and build.sbt names no "
                               "unmanagedBase jars directory")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise RuntimeError(f"no Scala compiler jar in {jars}")
    return jars


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(Path(__file__).read_bytes())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join([str(c) for c in classpath] + [str(jars / "*")])
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", cp, "-d", str(tmp)] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=600)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed for {out.name}:\n{r.stdout[-4000:]}")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build():
    """Returns [program classes, benchmark classes], building if stale."""
    main_src = sources(ROOT / "src" / "main" / "scala")
    bench_src = sources(ROOT / "perfbench" / "src")
    if not main_src:
        raise RuntimeError("no program sources under src/main/scala")
    if not bench_src:
        raise RuntimeError("no benchmark sources under perfbench/src")
    jars = spark_jars()
    out = build_dir()
    main_cls, bench_cls = out / "classes-main", out / "classes-bench"
    st = stamp(main_src + bench_src)
    stamp_file = out / "stamp"
    if (stamp_file.exists() and stamp_file.read_text() == st
            and main_cls.is_dir() and bench_cls.is_dir()):
        return [main_cls, bench_cls]
    out.mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    scalac(jars, [], main_cls, main_src)
    scalac(jars, [main_cls], bench_cls, bench_src)
    stamp_file.write_text(st)
    return [main_cls, bench_cls]


if __name__ == "__main__":
    try:
        print("\n".join(str(p) for p in build()))
    except Exception as e:  # noqa: BLE001 - report any build failure
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
