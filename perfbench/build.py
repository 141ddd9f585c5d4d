"""Builds the engine and the benchmark harness from source.

    python3 perfbench/build.py

Compiles `src/main/scala` of the checkout together with `perfbench/src`
with the Scala compiler that ships in Spark's jars (`$SPARK_HOME/jars`, the
same jars the engine's own build compiles against), then trains the section
tagger once and saves it beside the classes. Every workload serves that
model: training is a one-off per build, as the persisted s2 model is in
production. Output goes to `$CARGO_TARGET_DIR/perfbench/<source hash>`
(default `.bench_build`), so an unchanged tree is not rebuilt.
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
HEAP = "3g"


class BuildError(Exception):
    pass


def build_root() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at the Spark install the engine builds against")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"engine sources not found under {main.relative_to(ROOT)}; "
                         "run from the root of a checkout of the repository")
    scala = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    res = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return scala, resources, res


def jvm_options(out: Path, dump_archive: bool = False) -> list:
    """Options every benchmark JVM runs with: pinned heap, the JDK 17
    module opens Spark needs outside spark-submit, scratch inside the build
    directory, Spark logging on stderr at WARN, and the class-data archive
    the build dumps (it shortens JVM and session start, which set-up pays)."""
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    tmp = out.parent / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    archive = out / "classes.jsa"
    cds = ([f"-XX:ArchiveClassesAtExit={archive}"] if dump_archive
           else [f"-XX:SharedArchiveFile={archive}"] if archive.exists() else [])
    return ([f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"] + cds
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               f"-Dspark.sql.warehouse.dir={out.parent / 'warehouse'}",
               f"-Djava.io.tmpdir={tmp}",
               f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"])


def jvm_env(out: Path) -> dict:
    env = dict(os.environ)
    # shuffle and spill scratch: set explicitly so the engine's default
    # (Sessions.local picks /dev/shm when it exists) cannot move the numbers
    env["SPARK_GRAFT_LOCAL_DIR"] = str(out.parent / "spark-local")
    return env


def classpath(out: Path) -> str:
    return f"{out / 'graftbench.jar'}:{spark_jars()}/*"


def ensure() -> Path:
    """Returns the build directory for the current sources, building it
    first if needed."""
    scala, resources, res = sources()
    h = hashlib.sha256()
    for p in scala + res + [BENCH / "build.py"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(HEAP.encode())
    out = build_root() / h.hexdigest()[:16]
    if (out / "ok").exists():
        return out

    if build_root().exists():
        for old in build_root().iterdir():
            if old.is_dir() and len(old.name) == 16:
                shutil.rmtree(old)
    classes = out / "classes"
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in scala) + "\n")
    jars = f"{spark_jars()}/*"
    cmd = [java(), "-Xss16m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(classes), "-classpath", jars, f"@{argfile}"]
    print(f"[perfbench] compiling {len(scala)} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError("compilation failed")
    for p in res:
        dst = classes / p.relative_to(resources)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    # the class-data archive only covers classes loaded from jars
    with zipfile.ZipFile(out / "graftbench.jar", "w", zipfile.ZIP_STORED) as jar:
        for p in sorted(classes.rglob("*")):
            if p.is_file():
                jar.write(p, str(p.relative_to(classes)))
    shutil.rmtree(classes)

    print("[perfbench] training the section tagger", file=sys.stderr, flush=True)
    cmd = [java()] + jvm_options(out, dump_archive=True) + ["-cp", classpath(out), "graftbench.Main",
                                         "--prepare", str(out / "tagger_model")]
    if subprocess.run(cmd, stdout=sys.stderr, env=jvm_env(out)).returncode != 0:
        raise BuildError("training the section tagger failed")
    (out / "ok").write_text("")
    return out


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
