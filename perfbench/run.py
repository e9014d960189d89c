#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload medallion_merge --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness (perfbench/harness, an sbt build that depends on the engine's own
build) and caches the classpath under .bench_build/perfbench, keyed by a
hash of every source file; later runs reuse it. Each run starts one JVM
(perfbench.Main) with fresh work directories under .bench_build/perfbench.

Extra modes (not used by timed runs):
    --perturb 1          corrupt one output so the correctness check must fail
    --record FILE        write the expected query hashes for the generated tables
    --dump DIR           dump every query result and its oracle SQL to DIR
    --scale SF           generate the tables at another scale factor
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
HARNESS = HERE / "harness"
STATE = ROOT / ".bench_build" / "perfbench"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (the engine's build.sbt passes the same list).
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]


# The JVM flags of the engine's own `run` (build.sbt): default tiered JIT,
# concurrent explicit GC and a 1 GB code cache. The heap cap is smaller (a
# 4-core host, not 32) and there is no -Xms, so the heap and the resident
# set grow with what the engine keeps live.
JVM_FLAGS = ["-Xmx3g", "-XX:+ExplicitGCInvokesConcurrent", "-XX:ReservedCodeCacheSize=1g"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt"))
    files += sorted(p for p in (ROOT / "src" / "main").rglob("*") if p.is_file())
    files += [HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    files += sorted(p for p in (HARNESS / "src").rglob("*") if p.is_file())
    return [f for f in files if f.exists()]


def build():
    """Compile engine + harness if any source changed; return the classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file = STATE / "classpath.txt"
    stamp_file = STATE / "classpath.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    STATE.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export harness/Runtime/fullClasspath"]
    print("perfbench: building engine and harness", file=sys.stderr)
    try:
        res = subprocess.run(cmd, cwd=HARNESS, env=env, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("build timed out", 3)
    lines = res.stdout.strip().splitlines()
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-5000:])
        die("build failed", 3)
    cp = lines[-1].strip()
    if "perfbench" not in cp or "classes" not in cp:
        sys.stderr.write(res.stdout[-5000:])
        die("build did not print the harness classpath", 3)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["medallion_merge", "lakehouse_queries", "llm_data_ops"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--perturb", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record")
    ap.add_argument("--dump")
    ap.add_argument("--scale", type=float)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"engine sources (build.sbt, src/main/scala) not found under {ROOT}")
    if not (HARNESS / "build.sbt").exists():
        die("harness build not found")
    cp = build()

    work = STATE / "work"
    out = STATE / "out"
    tmp = STATE / "tmp"
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    java = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.Main",
             "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--perturb", str(a.perturb),
             "--work", str(work), "--out", str(out),
             "--expected", str(HERE / "expected" / "query_hashes.json")]
    if a.scale is not None:
        java += ["--scale", str(a.scale)]
    if a.record:
        java += ["--record", str(Path(a.record).resolve())]
    if a.dump:
        java += ["--dump", str(Path(a.dump).resolve())]

    proc = subprocess.Popen(java, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        timeout = None if (a.record or a.dump) else RUN_TIMEOUT_S
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    lines = [l for l in stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if proc.returncode != 0:
        die(f"harness exited with {proc.returncode}", proc.returncode or 1)
    if a.record or a.dump:
        for l in lines[-1:]:
            print(l)
        return
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        die("harness printed no result line", 5)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
