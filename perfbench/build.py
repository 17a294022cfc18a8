"""Build step of the extraction-job benchmark.

Compiles the engine (`src/main/scala`) together with the benchmark's own
Scala sources (`perfbench/scala`) into `.bench_build/classes`, using the
Scala compiler that ships in Spark's `jars` directory, so the benchmark
needs neither sbt nor a change to `build.sbt`. A digest of every source
file is stored next to the classes; an unchanged tree is not rebuilt.

    python3 perfbench/build.py        # build (or confirm the build is current)
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD_DIR = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("SPARK_HOME is unset and spark-submit is not on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        raise BuildError(f"no Spark jars directory at {jars}")
    return jars


def sources(root=ROOT):
    engine = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {root / 'src' / 'main' / 'scala'}")
    bench = sorted((root / "perfbench" / "scala").rglob("*.scala"))
    if not bench:
        raise BuildError("no benchmark sources under perfbench/scala")
    return engine + bench


def digest(files, root=ROOT):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root=ROOT, build_dir=BUILD_DIR):
    """Returns (runtime classpath, source digest); compiles when stale."""
    jars = spark_jars()
    files = sources(root)
    want = digest(files, root)
    classes = build_dir / "classes"
    stamp = build_dir / "classes.stamp"
    runtime_cp = os.pathsep.join([str(classes), str(jars / "*")])
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == want:
        return runtime_cp, want

    def jar(prefix):
        found = sorted(jars.glob(f"{prefix}-2.13.*.jar"))
        if not found:
            raise BuildError(f"no {prefix} jar in {jars}")
        return str(found[-1])

    compiler_cp = os.pathsep.join(
        jar(p) for p in ("scala-compiler", "scala-library", "scala-reflect"))
    lib_cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    staging = build_dir / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler_cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(staging),
           "-classpath", lib_cp] + [str(f) for f in files]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + done.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp.write_text(want)
    return runtime_cp, want


if __name__ == "__main__":
    try:
        cp, d = build()
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
    print(f"built {d[:12]} -> {cp}")
