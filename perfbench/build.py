#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft and the benchmark harness offline.

    python3 perfbench/build.py

Compiles the repository's `src/main/scala` (plus `src/main/resources`) and then
`perfbench/src` with the Scala compiler that ships among Spark's jars, into
`.bench_build/` at the root of the checkout. The jar directory is `$SPARK_HOME/jars`
when SPARK_HOME is set, else the `unmanagedBase` the repository's build.sbt names.
Each step is skipped when a hash of its sources matches the last build. Prints the
run-time classpath.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
SCALA = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise BuildError("set SPARK_HOME, or name Spark's jar directory as unmanagedBase in build.sbt")
    return Path(m.group(1))


def tree_hash(dirs, extra=""):
    h = hashlib.sha256(extra.encode())
    for d in dirs:
        for p in sorted(d.rglob("*")):
            if p.is_file():
                h.update(str(p.relative_to(ROOT)).encode())
                h.update(p.read_bytes())
    return h.hexdigest()


def scalac(jars, sources, classpath, out):
    compiler = ":".join(str(jars / f"scala-{m}-{SCALA}.jar")
                        for m in ("compiler", "library", "reflect"))
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", str(out), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError(f"scalac failed for {out.name}:\n{res.stdout[-4000:]}")


def step(jars, name, src_dirs, resources, classpath, extra=""):
    """Compiles the .scala files under src_dirs into .bench_build/<name>/classes."""
    for d in src_dirs:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
    stamp = tree_hash(src_dirs + resources, extra)
    home = OUT / name
    classes = home / "classes"
    if (home / "stamp").exists() and (home / "stamp").read_text() == stamp and classes.is_dir():
        return classes, stamp, False
    shutil.rmtree(home, ignore_errors=True)
    staging = home / "staging"
    staging.mkdir(parents=True)
    sources = sorted(p for d in src_dirs for p in d.rglob("*.scala"))
    scalac(jars, sources, classpath, staging)
    for r in resources:
        shutil.copytree(r, staging, dirs_exist_ok=True)
    staging.rename(classes)
    (home / "stamp").write_text(stamp)
    return classes, stamp, True


def build():
    """Returns (classpath, whether anything was compiled)."""
    src = ROOT / "src" / "main"
    if not (src / "scala").is_dir():
        raise BuildError("missing source directory src/main/scala")
    jars = spark_jars()
    if not (jars / f"scala-compiler-{SCALA}.jar").exists():
        raise BuildError(f"no Scala {SCALA} compiler in {jars}")
    cp = ":".join(str(p) for p in sorted(jars.glob("*.jar")))
    res = [d for d in [src / "resources"] if d.is_dir()]
    graft, stamp, built1 = step(jars, "graft", [src / "scala"], res, cp)
    bench, _, built2 = step(jars, "harness", [ROOT / "perfbench" / "src"], [],
                            f"{cp}:{graft}", extra=stamp)
    return f"{bench}:{graft}:{jars}/*", built1 or built2


if __name__ == "__main__":
    try:
        cp, _ = build()
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    print(cp)
