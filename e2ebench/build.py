"""Builds graft and the tracer from source, and says how to launch them.

graft is compiled with the Scala compiler that ships among the Spark jars
named by build.sbt's `unmanagedBase`, the same jars `sbt run` puts on the
classpath; processes start with build.sbt's `javaOptions` (the JDK 17
`--add-opens` list and the `-D` settings), as `sbt run` forks them. Builds
are cached under `.bench_build/e2ebench`, keyed by a hash of every source
file, so only the first run in a checkout compiles.

Run `python3 e2ebench/build.py` to build and print the classpath.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = ROOT / ".bench_build" / "e2ebench"
TRACER_SRC = HERE / "tracer"


class BuildError(Exception):
    pass


def _build_sbt():
    f = ROOT / "build.sbt"
    if not f.is_file():
        raise BuildError(f"{f.name} not found: run from a graft checkout")
    return f.read_text(encoding="utf-8")


def spark_jars():
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _build_sbt())
    if not m or not Path(m.group(1)).is_dir():
        raise BuildError("build.sbt names no readable unmanagedBase jar directory")
    return Path(m.group(1))


def java_options():
    """build.sbt's forked-run options: the --add-opens list and the -D flags."""
    text = _build_sbt()
    m = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", text, re.S)
    if not m:
        raise BuildError("build.sbt has no jdk17AddOpens list")
    opts = []
    for pkg in re.findall(r'"([^"]+)"', m.group(1)):
        opts += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    return opts + re.findall(r'"(-D[^"]+)"', text)


def _sources(base):
    return sorted(p for p in base.rglob("*.scala"))


def _key(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()[:16]


def _scalac(files, out, classpath, log):
    """Compile `files` into `out` (atomically: a failed build leaves nothing)."""
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args_file = tmp.with_name(out.name + ".args")
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    jars = str(spark_jars() / "*")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
           "-d", str(tmp), "-classpath", os.pathsep.join(classpath + [jars]), f"@{args_file}"]
    with open(log, "wb") as lf:
        code = subprocess.call(cmd, stdout=lf, stderr=subprocess.STDOUT)
    args_file.unlink()
    if code != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited {code}; see {log}")
    tmp.rename(out)


def ensure_built():
    """Compile graft and the tracer if needed; returns (graft, tracer) class dirs."""
    main_src = ROOT / "src" / "main" / "scala"
    if not main_src.is_dir():
        raise BuildError("src/main/scala not found: run from a graft checkout")
    CACHE.mkdir(parents=True, exist_ok=True)
    graft_files = _sources(main_src)
    graft_out = CACHE / f"graft-{_key(graft_files)}"
    if not graft_out.is_dir():
        _scalac(graft_files, graft_out, [], CACHE / "graft-build.log")
    tracer_files = _sources(TRACER_SRC)
    tracer_out = CACHE / f"tracer-{_key(graft_files + tracer_files)}"
    if not tracer_out.is_dir():
        _scalac(tracer_files, tracer_out, [str(graft_out)], CACHE / "tracer-build.log")
    return graft_out, tracer_out


def classpath(*dirs):
    return os.pathsep.join([str(d) for d in dirs] + [str(spark_jars() / "*")])


if __name__ == "__main__":
    try:
        print(classpath(*ensure_built()))
    except BuildError as e:
        sys.exit(f"build failed: {e}")
