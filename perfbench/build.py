"""Build file of the benchmark package: compiles the engine sources
(`src/main/scala`) together with the benchmark's own Scala sources
(`perfbench/scala`) into one jar with the Scala compiler that ships in
Spark's jars, generates the benchmark's input tables, and records a
class-data-sharing archive of a short run so later JVMs start faster.

Outputs go under `.bench_build/` at the checkout root, keyed by a hash
of the sources, so a changed source rebuilds and an unchanged one is
reused. Run `python3 perfbench/build.py` to build ahead of a run.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build"

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark distribution with jars/")
    return Path(home) / "jars"


def sources() -> list:
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    bench = sorted((BENCH / "scala").rglob("*.scala"))
    if not bench:
        raise BuildError("no benchmark sources under perfbench/scala")
    return engine + bench


def digest(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def java_opts(run_dir: Path, jar: Path) -> list:
    """JVM options of a benchmark JVM whose temp files go to run_dir/tmp."""
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
    opts += ["-Xmx3g", f"-Dlog4j.configurationFile={BENCH / 'log4j2.properties'}",
             f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    if archive(jar).exists():
        opts.append(f"-XX:SharedArchiveFile={archive(jar)}")
    return opts


def classpath(jar: Path) -> str:
    return f"{jar}{os.pathsep}{spark_jars() / '*'}"


def archive(jar: Path) -> Path:
    return jar.with_suffix(".jsa")


def compile_jar() -> Path:
    """The jar of engine + benchmark classes; builds it when missing."""
    srcs = sources()
    jar = OUT / f"bench-{digest(srcs)}.jar"
    if jar.exists():
        return jar
    tmp = OUT / f"{jar.stem}.tmp{os.getpid()}"
    tmp.mkdir(parents=True)
    argfile = OUT / f"{jar.stem}.sources{os.getpid()}"
    argfile.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    jars = str(spark_jars() / "*")
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", jars, f"@{argfile}"]
    print(f"[build] compiling {len(srcs)} sources", file=sys.stderr)
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            raise BuildError(f"scalac failed with exit code {r.returncode}")
        part = jar.with_suffix(f".part{os.getpid()}")
        subprocess.run(["jar", "cf", str(part), "-C", str(tmp), "."], check=True)
        part.rename(jar)
    finally:
        argfile.unlink()
        shutil.rmtree(tmp)
    return jar


def share_classes(jar: Path, data: Path) -> None:
    """Record the classes a short battery run loads into a class-data
    sharing archive (JVM start-up then maps them instead of parsing
    them); a missing archive only makes start-up slower."""
    if archive(jar).exists():
        return
    run_dir = OUT / f"archive-run{os.getpid()}"
    (run_dir / "tmp").mkdir(parents=True)
    part = jar.with_suffix(f".jsa.part{os.getpid()}")
    try:
        cmd = ["java", *java_opts(run_dir, jar), f"-XX:ArchiveClassesAtExit={part}",
               "-cp", classpath(jar), "graftbench.Main", "battery", "0", "1", "0",
               str(data), str(run_dir), str(BENCH / "golden" / "battery.json")]
        env = dict(os.environ, GRAFT_EAV_CACHE=str(run_dir / "eav"))
        r = subprocess.run(cmd, env=env, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode == 0 and part.exists():
            part.rename(archive(jar))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        part.unlink(missing_ok=True)


def input_tables(jar: Path, sf: str) -> Path:
    """The generated input tables at scale factor `sf`."""
    gen = sorted((BENCH / "scala").rglob("DataGen.scala"))
    data = OUT / f"data-{digest(gen)}" / f"sf{sf}"
    if (data / ".ok").exists():
        return data
    tmp = data.with_name(data.name + f".tmp{os.getpid()}")
    tmp.mkdir(parents=True)
    (tmp / "tmp").mkdir()
    cmd = ["java", *java_opts(tmp, jar), "-cp", classpath(jar),
           "graftbench.DataGen", str(tmp), sf]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"input generation failed with exit code {r.returncode}")
    for f in tmp.iterdir():
        if f.is_dir():
            shutil.rmtree(f)
        elif not f.name.endswith(".parquet"):
            f.unlink()
    (tmp / ".ok").touch()
    tmp.rename(data)
    return data


if __name__ == "__main__":
    try:
        print(compile_jar())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
