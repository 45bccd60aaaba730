"""Build file of the benchmark harness.

Compiles the program's sources (src/main/scala) together with
benchmark/harness/*.scala using the Scala compiler that ships among the
Spark jars, so neither sbt nor the repo's build.sbt is involved, and packs
them as .bench_build/<hash of the sources>/app.jar. It then runs one short
pass of every workload on tiny inputs to record a class-data-sharing
archive (app.jsa) that the benchmark's JVMs map at start, which saves the
class loading part of every cold start. Nothing is rebuilt while the
sources are unchanged.

Usage: python3 benchmark/build.py   (prints the jar path)
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HARNESS = HERE / "harness"
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
HEAP = "4g"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names as
    unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise SystemExit("no Spark jars: set SPARK_HOME")


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise SystemExit("no program sources under src/main/scala")
    return program + sorted(HARNESS.glob("*.scala"))


def java_cmd(jar, jars, run_dir, harness_args, extra=()):
    """The harness JVM: its temp files and logs stay in ``run_dir``."""
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dlog4j.configurationFile={HARNESS / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *extra]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{jar}:{jars}/*", "graftbench.Harness"] + \
        [f"{k}={v}" for k, v in harness_args.items()]


def train(jar, jars, out, log):
    """One short pass of every workload with -XX:ArchiveClassesAtExit."""
    import gen
    work = out / "train"
    for w, make in (("cdc_serve", lambda d: gen.cdc_feed(d, 0, 500, 200, 2, 50)),
                    ("olap_mix", lambda d: gen.tables(os.path.join(d, "tables"), 0, scale=0.001)),
                    ("dedup_gates", lambda d: gen.gate_feed(d, 0, 200, 100, 1, 2, 2))):
        make(str(work / "input" / w))
    (work / "tmp").mkdir()
    args = {"workload": "train", "seconds": 0, "trace": 0, "input": work / "input",
            "work": work / "work", "out": work / "result", "master": "local[4]",
            "queries": "cdc_snapshot,q3_shipping_priority,q_moving_avg,q_asof_join,ann_lsh"}
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"),
               SPARK_GRAFT_INDEX_DIR=str(work / "ann_index"))
    jsa = out / "app.jsa"
    print("[bench] recording the class-data archive", file=log, flush=True)
    r = subprocess.run(java_cmd(jar, jars, work, args, [f"-XX:ArchiveClassesAtExit={jsa}.tmp"]),
                       cwd=work, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode == 0 and Path(f"{jsa}.tmp").exists():
        Path(f"{jsa}.tmp").rename(jsa)
    else:
        print(f"[bench] no class-data archive: {r.stdout[-2000:]}", file=log)
    shutil.rmtree(work, ignore_errors=True)


def build(log=sys.stderr):
    """Returns (jar, Spark jar directory, class-data archive or None)."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs + [HERE / "gen.py"]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = ROOT / ".bench_build" / h.hexdigest()[:16]
    jar, jsa = out / "app.jar", out / "app.jsa"
    out.parent.mkdir(exist_ok=True)
    with open(f"{out}.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build of a tree at a time
        if not (out / "done").exists():
            compile_and_train(srcs, jars, out, jar, log)
    return jar, jars, jsa if jsa.exists() else None


def compile_and_train(srcs, jars, out, jar, log):
    shutil.rmtree(out, ignore_errors=True)
    (out / "classes").mkdir(parents=True)
    (out / "tmp").mkdir()
    tmp = f"-Djava.io.tmpdir={out / 'tmp'}"
    cp = f"{jars}/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", tmp, "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out / "classes"), "-classpath", cp] + [str(p) for p in srcs]
    print(f"[bench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=log)
        raise SystemExit("build failed")
    subprocess.run(["jar", "-J-XX:-UsePerfData", f"-J{tmp}", "cf", str(jar), "-C", str(out / "classes"),
                    "."], check=True)
    shutil.rmtree(out / "classes")
    shutil.rmtree(out / "tmp")
    train(jar, jars, out, log)
    (out / "done").touch()


if __name__ == "__main__":
    print(build()[0])
