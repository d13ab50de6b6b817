#!/usr/bin/env python3
"""Layer benchmark of the graft engine.

Usage (from the root of a checkout):
  python3 layerbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine's sources together with the benchmark's (sbt, only when a
source file changed), runs one workload in a fresh JVM and prints the run's
JSON result as the last stdout line. Build outputs, working data and
per-run artifacts (spans, self times, tracing overhead, host-noise witness)
go under $CARGO_TARGET_DIR/layerbench (default .bench_build/layerbench).

  --record <file>  write the run's per-key (count, bit_xor) table to <file>
                   instead of checking against expected/<workload>.tsv
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("registry_floor", "telemetry_serve")
RUN_TIMEOUT_S = 170
# Application class-data-sharing archive: the first run after a build dumps
# the classes it loaded; later runs map them, which cuts JVM and Spark
# start-up by about 5 s per run.
CDS_ARCHIVE = "classes.jsa"
BUILD_TIMEOUT_S = 600
# Spark on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[layerbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties", HERE / "run.py"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(out):
    """Compiles with sbt when the sources changed and packs the classes into
    one jar (class-data sharing needs jars); returns the classpath."""
    stamp_file, cp_file = out / "stamp", out / "classpath"
    stamp = source_stamp()
    if stamp_file.is_file() and cp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building engine + benchmark with sbt")
    out.mkdir(parents=True, exist_ok=True)
    for stale in (stamp_file, out / CDS_ARCHIVE, out / (CDS_ARCHIVE + ".failed")):
        stale.unlink(missing_ok=True)
    env = dict(os.environ, LAYERBENCH_TARGET=str(out / "target"))
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit is None:
            log("SPARK_HOME is unset and spark-submit is not on PATH")
            return None
        env["SPARK_HOME"] = str(Path(submit).resolve().parent.parent)
    with open(out / "build.log", "w") as blog:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=blog,
            text=True, timeout=BUILD_TIMEOUT_S)
        blog.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        log(f"build failed (exit {proc.returncode}); see {out / 'build.log'}")
        return None
    entries = lines[-1].strip().split(os.pathsep)
    jar = out / "layerbench.jar"
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d in (Path(e) for e in entries if Path(e).is_dir()):
            for f in sorted(d.rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(d).as_posix())
    cp = os.pathsep.join([str(jar)] + [e for e in entries if not Path(e).is_dir()])
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record")
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (HERE / "data").is_dir():
        log(f"engine sources or input tables not found under {ROOT}; run from a checkout of the repository")
        return 2
    out = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "layerbench"
    cp = build(out)
    if cp is None:
        return 3
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Serial GC on a fixed 2 GB heap: heap growth does not follow pause-time
    # heuristics, so peak RSS repeats from run to run (G1 spread it by
    # +-25 %), and no concurrent GC threads compete with the task threads.
    # JVM log lines go to stderr so the result stays the last stdout line.
    archive = out / CDS_ARCHIVE
    dump = out / (CDS_ARCHIVE + ".tmp")
    failed = out / (CDS_ARCHIVE + ".failed")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseSerialGC",
           "-Xlog:disable", "-Xlog:all=warning:stderr", f"-Djava.io.tmpdir={tmp}"]
    if archive.is_file():
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    elif not failed.is_file():
        cmd.append(f"-XX:ArchiveClassesAtExit={dump}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.layerbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work-dir", str(out), "--data-dir", str(HERE / "data"),
            "--expected-dir", str(HERE / "expected")]
    if a.record:
        cmd += ["--record", str(Path(a.record).resolve())]
    log_file = out / "logs" / f"{a.workload}_seed{a.seed}_trace{a.trace}.log"
    log_file.parent.mkdir(parents=True, exist_ok=True)
    with open(log_file, "w") as jlog:
        try:
            proc = subprocess.run(cmd, cwd=out, stdout=subprocess.PIPE, stderr=jlog,
                                  text=True, timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"run exceeded {RUN_TIMEOUT_S} s; see {log_file}")
            return 4
    if any(c.startswith("-XX:ArchiveClassesAtExit") for c in cmd):
        if proc.returncode == 0 and dump.is_file():
            dump.replace(archive)
        else:
            failed.touch()  # run without sharing rather than retry every run
    result = None
    lines = proc.stdout.splitlines()
    for i in range(len(lines) - 1, -1, -1):
        try:
            cand = json.loads(lines[i])
        except ValueError:
            continue
        if isinstance(cand, dict) and set(cand) == {"correct", "attempted", "failed", "metrics"}:
            result = cand
            break
    if result is None:
        log(f"no result line (exit {proc.returncode}); see {log_file}")
        return 5
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
