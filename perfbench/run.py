#!/usr/bin/env python3
"""graft's benchmark: one command per workload, from the repository root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source with sbt (once per source
state), then runs the workload in a fresh JVM inside a private
directory under perfbench/.runs/ that is removed when the run ends.
The last stdout line is the result object: every end-to-end metric of
BENCHMARK.json with --trace 0, every per-layer metric with --trace 1.
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / "target"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = ["-Xms3g", "-Xmx3g"]
# the module opens spark-submit passes to a JDK 17 JVM
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    inputs = [ROOT / "src" / "main", HERE / "src", HERE / "build.sbt",
              HERE / "project" / "build.properties"]
    for top in inputs:
        files = sorted(p for p in top.rglob("*") if p.is_file()) if top.is_dir() else [top]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ROOT / 'src' / 'main' / 'scala'}")
    stamp = source_stamp()
    stamp_file = BUILD / "graftbench.classpath"
    if stamp_file.exists():
        saved, _, cp = stamp_file.read_text().partition("\n")
        if saved == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    try:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build did not run: {e}")
    cps = [l for l in r.stdout.splitlines()
           if "scala-2.13" in l and os.pathsep in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    BUILD.mkdir(exist_ok=True)
    stamp_file.write_text(stamp + "\n" + cps[-1] + "\n")
    return cps[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.exists():
        fail("BENCHMARK.json not found at the repository root")
    spec = json.loads(spec_file.read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]
    cp = build()

    run_dir = HERE / ".runs" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "warehouse", "local"):
        (run_dir / d).mkdir(parents=True)
    cmd = ["java", *OPENS, *HEAP, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           f"-Dspark.local.dir={run_dir / 'local'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", cp, "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--metrics", ",".join(m["name"] for m in wanted),
           "--run-dir", str(run_dir), "--data", str(HERE / "data"),
           "--expected", str(HERE / "expected" / "analytics_sf0.1.json"),
           "--results", str(HERE / ".results")]
    proc = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"run exited with code {proc.returncode}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"last line is not a result: {lines[-1][:200]}")
    for m in wanted:
        result["metrics"][m["name"]]["unit"] = m["unit"]
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
