#!/usr/bin/env python3
"""Benchmark entry point for graft.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload t2k_match --seed 1 --seconds 20 --trace 0

Builds the harness in perfbench/ (an sbt build that compiles graft's own
sources, see perfbench/build.sbt) once per source state, runs one workload
in one JVM, echoes the harness report, and prints one JSON result as the
last stdout line. Exits non-zero when a correctness check fails, the
program fails, or graft's sources are missing.

Build outputs, the work dir and the trace JSONL go under $CARGO_TARGET_DIR
(default .bench_build) in the checkout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

WORKLOADS = ("t2k_match", "stream_dedup")
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 880
HEAP = "2g"
ARCHIVE = "classes.jsa"
# Spark on JDK 17 outside spark-submit needs these (as in graft's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    # run.py itself: it sets the JVM flags the class-data-sharing archive is recorded with
    files = [root / "build.sbt", root / "project" / "build.properties",
             root / "perfbench" / "build.sbt", root / "perfbench" / "project" / "build.properties",
             root / "perfbench" / "run.py"]
    for d in (root / "src" / "main", root / "perfbench" / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def java_cmd(cp, work, archive_flag):
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if os.environ.get("JAVA_HOME") else "java"
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir;
    # -Xshare:on: a class-data-sharing archive that does not map is an error
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Xlog:all=warning:stderr",
           "-Xshare:on", f"-Djava.io.tmpdir={work / 'tmp'}", archive_flag]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + ["-cp", cp, "perfbench.Main"]


def build(root, build_dir):
    """Compiles graft and the harness with sbt and returns (classpath of jars,
    whether this call built them). sbt rewrites the same jars on every build,
    so one build is kept: the one whose source stamp is recorded."""
    stamp = source_stamp(root)
    stamp_file, cp_file, archive = build_dir / "stamp", build_dir / "classpath.txt", build_dir / ARCHIVE
    if stamp_file.is_file() and stamp_file.read_text() == stamp and cp_file.is_file() and archive.is_file():
        return cp_file.read_text().strip(), False
    for f in (stamp_file, cp_file, archive):
        f.unlink(missing_ok=True)
    print("perfbench: building graft and the harness with sbt", file=sys.stderr)
    sbt_tmp = build_dir / "sbt-tmp"
    sbt_tmp.mkdir(parents=True, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Djava.io.tmpdir={sbt_tmp}", "-J-XX:-UsePerfData", "export Runtime/fullClasspathAsJars"],
        cwd=root / "perfbench", stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=FIRST_RUN_LIMIT_S / 2)
    sys.stderr.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    # Every run maps a class-data-sharing archive of the classes Spark and
    # graft load, recorded here by one short stream_dedup run. It takes about
    # 10 s of class loading off each run.
    work = build_dir / "work" / "archive"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    rec = subprocess.run(java_cmd(cp, work, f"-XX:ArchiveClassesAtExit={archive}") +
                         ["--workload", "stream_dedup", "--seed", "0", "--seconds", "0",
                          "--trace", "0", "--work", str(work)],
                         cwd=root, stdout=sys.stderr, stderr=sys.stderr, timeout=FIRST_RUN_LIMIT_S / 4)
    shutil.rmtree(work, ignore_errors=True)
    if rec.returncode != 0 or not archive.is_file():
        fail(f"recording the class-data-sharing archive failed (exit {rec.returncode})")
    cp_file.write_text(cp + "\n")
    stamp_file.write_text(stamp)
    return cp, True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    t0 = time.monotonic()

    root = Path.cwd()
    spec_path = root / "BENCHMARK.json"
    if not (root / "src" / "main" / "scala" / "graft").is_dir() or not (root / "build.sbt").is_file():
        fail("graft's sources (build.sbt, src/main/scala/graft) are not in the current directory")
    if not spec_path.is_file():
        fail("BENCHMARK.json is not in the current directory")
    spec = json.loads(spec_path.read_text())
    build_dir = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not build_dir.is_absolute():
        build_dir = root / build_dir

    build_dir.mkdir(parents=True, exist_ok=True)
    cp, built = build(root, build_dir)
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)

    work = build_dir / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    trace_out = build_dir / "traces" / f"{a.workload}-seed{a.seed}.jsonl"
    cmd = java_cmd(cp, work, f"-XX:SharedArchiveFile={build_dir / ARCHIVE}")
    cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work), "--trace-out", str(trace_out),
            "--expected", str(root / "perfbench" / "expected_checksums.txt")]
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=max(limit, 10))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {limit:.0f} s")
    shutil.rmtree(work, ignore_errors=True)

    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if result is None:
        fail(f"the harness printed no result (exit {proc.returncode})")
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if sorted(result["metrics"]) != sorted(names):
        print("perfbench: metrics differ from BENCHMARK.json", file=sys.stderr)
        result["correct"] = False
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and proc.returncode == 0 else 1)


if __name__ == "__main__":
    main()
