"""Build file of the benchmark package.

Compiles the graft library sources of the checkout (`src/main/scala`)
together with the benchmark's own Scala sources (`perfbench/src`) with the
Scala compiler that ships in the Spark distribution, so the build needs no
network and no build tool. The class directory is reused while the sources
and the Spark jars are unchanged.

    python3 perfbench/build.py          # builds into .bench_build/classes
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the one build.sbt uses."""
    home = Path(os.environ.get("SPARK_HOME", "/opt/spark"))
    jars = home / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler under {home}")
    return jars


def sources(root):
    lib = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    own = sorted((root / "perfbench" / "src").rglob("*.scala"))
    if not lib:
        raise BuildError(f"no library sources under {root / 'src' / 'main' / 'scala'}")
    if not own:
        raise BuildError(f"no benchmark sources under {root / 'perfbench' / 'src'}")
    return lib + own


def build(root, build_dir):
    """Compiles when needed; returns the class directory."""
    root = Path(root)
    build_dir = Path(build_dir)
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        h.update(j.name.encode())
    stamp = h.hexdigest()
    classes = build_dir / "classes"
    if (classes / ".stamp").is_file() and (classes / ".stamp").read_text() == stamp:
        return classes

    tmp = build_dir / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = build_dir / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, "@" + str(argfile)]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        raise BuildError(f"scalac exited with {done.returncode}")
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    here = Path(__file__).resolve().parent.parent
    try:
        print(build(here, here / os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
