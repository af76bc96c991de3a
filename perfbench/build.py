"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/src) into .bench_build/classes with the
Scala compiler that ships in Spark's jars directory, and copies the
program's resources (src/main/resources) next to the classes.

The compile is skipped when the sources and the jar set are unchanged.
Run it alone with `python3 perfbench/build.py` from the repository root.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"


def spark_jars() -> Path:
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("perfbench: no Spark jars (set SPARK_HOME)")
    return Path(home) / "jars"


def sources() -> list:
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        sys.exit("perfbench: no program sources under src/main/scala")
    return program + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build() -> Path:
    """Returns the classes directory, compiling first when needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    resources = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file())
    for p in res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    for j in sorted(jars.iterdir()):
        h.update(j.name.encode())
    stamp = h.hexdigest()
    stamp_file = CLASSES / "BUILD_STAMP"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return CLASSES
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-8000:])
        sys.exit(f"perfbench: compile failed ({done.returncode})")
    for p in res:  # data source registrations
        dest = tmp / p.relative_to(resources)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dest)
    (tmp / "BUILD_STAMP").write_text(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return CLASSES


if __name__ == "__main__":
    print(build())
