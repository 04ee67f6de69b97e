"""Build of the warehouse benchmark: the program's `src/main/scala` plus the
benchmark's own `whbench/scala`, compiled with the Scala compiler that ships
in the Spark distribution (`$SPARK_HOME/jars`), into `.bench_build/` at the
root of the checkout. A build is reused while no source file changes.

    python3 whbench/build.py        # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "whbench" / "scala"]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("spark-sql_*.jar")):
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {jars}")
    return jars


def source_files() -> list:
    files = []
    for d in SOURCES:
        found = sorted(d.rglob("*.scala")) if d.is_dir() else []
        if not found:
            raise BuildError(f"no Scala sources under {d.relative_to(ROOT)}")
        files += found
    return files


def build() -> Path:
    """Compiles unless an identical build exists; returns the class dir."""
    files = source_files()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = tmp / "scalac.args"
    args.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp),
           f"@{args}"]
    # run inside the output dir: scalac's default class path is the working
    # directory, where `whbench/scala` would read as a package
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850, cwd=tmp)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    args.unlink()
    (tmp / ".complete").write_text("")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
