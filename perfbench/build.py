"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) using the Scala compiler that ships with
Spark, into .bench_build/perfbench/classes-<source hash>. A build is reused
until a source file changes. Needs SPARK_HOME and a JDK.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


class BuildError(Exception):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark install with jars/")
    return Path(home) / "jars"


def _compiler(jars: Path) -> list:
    parts = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(jars.glob(f"{name}-2.13.*.jar"))
        if not found:
            raise BuildError(f"no {name} 2.13 jar in {jars}")
        parts.append(str(found[-1]))
    return parts


def build(root: Path) -> list:
    """Compiles if needed; returns the runtime classpath entries."""
    program = root / "src" / "main" / "scala"
    resources = root / "src" / "main" / "resources"
    if not program.is_dir():
        raise BuildError(f"the program's sources are missing: {program}")
    sources = sorted(program.rglob("*.scala")) + \
        sorted((root / "perfbench" / "src").rglob("*.scala"))
    digest = hashlib.sha256()
    for f in sources:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    jars = spark_jars()
    out = root / ".bench_build" / "perfbench" / f"classes-{digest.hexdigest()[:16]}"
    classpath = [str(out), str(resources), f"{jars}/*"]
    if (out / ".done").exists():
        return classpath
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", ":".join(_compiler(jars)),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*",
           "-d", str(tmp)] + [str(f) for f in sources]
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    (out / ".done").touch()
    return classpath


if __name__ == "__main__":
    try:
        print(":".join(build(Path(__file__).resolve().parent.parent)))
    except BuildError as e:
        sys.exit(f"perfbench: {e}")
