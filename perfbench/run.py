#!/usr/bin/env python3
"""Runs one workload of the repo benchmark and prints its result.

    python3 perfbench/run.py --workload extract|curate|queries --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

The first call in a checkout builds the engine and the benchmark from
source with sbt (offline) into target/ directories, and records the
runtime classpath under .perfbench/. Later calls rebuild only when a
source or build file changed. Each run starts one JVM that runs the
workload at local[4]; its last stdout line is the result JSON, which this
script checks and prints last. Spark's log goes to .perfbench/logs/.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
WORK = ROOT / ".perfbench"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 needs these outside spark-submit (as the root build.sbt sets).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def sources_hash():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "src" / "main", ROOT / "project", BENCH / "src", BENCH / "project"):
        files += [p for p in d.rglob("*") if p.is_file() and "target" not in p.parts]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def sbt(*tasks, log_name, timeout):
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    out = WORK / "logs" / log_name
    out.parent.mkdir(parents=True, exist_ok=True)
    with open(out, "w") as f:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          f"-Djava.io.tmpdir={WORK / 'tmp'}", *tasks],
                         timeout, cwd=BENCH, env=sbt_env(),
                         stdin=subprocess.DEVNULL, stdout=f, stderr=subprocess.STDOUT)
    return code, out


def classpath():
    """Builds if needed and returns the runtime classpath."""
    stamp, cp_file = WORK / "build" / "stamp", WORK / "build" / "classpath"
    want = sources_hash()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    log("building the engine and the benchmark with sbt")
    code, out = sbt("compile", "export Runtime/fullClasspath", log_name="build.log",
                    timeout=BUILD_TIMEOUT_S)
    lines = out.read_text().splitlines()
    if code != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"build failed (exit {code}); see {out}")
    stamp.parent.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(want)
    return lines[-1].strip()


def result_of(stdout):
    lines = [l for l in stdout.splitlines() if l.strip()]
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except ValueError:
        return None
    keys = {"correct", "attempted", "failed", "metrics"}
    return r if isinstance(r, dict) and set(r) == keys else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["extract", "curate", "queries"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    for need in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala"):
        if not need.exists():
            raise SystemExit(f"no engine sources at {need}: run from a full checkout")
    if a.selftest:
        code, out = sbt("test", log_name="selftest.log", timeout=BUILD_TIMEOUT_S)
        sys.stdout.write(out.read_text())
        raise SystemExit(0 if code == 0 else 1)
    if None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    cp = classpath()
    run_dir = WORK / "run"
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    run_dir.mkdir(parents=True, exist_ok=True)
    jvm = ["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd = jvm + ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload,
                 "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace,
                 "--root", str(ROOT), "--work", str(run_dir)]
    err = WORK / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    err.parent.mkdir(parents=True, exist_ok=True)
    out_file = WORK / "logs" / "stdout.txt"
    with open(err, "w") as e, open(out_file, "w") as o:
        code = run_group(cmd, RUN_TIMEOUT_S, cwd=run_dir, stdin=subprocess.DEVNULL,
                         stdout=o, stderr=e)
    stdout = out_file.read_text()
    for line in err.read_text().splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    result = result_of(stdout)
    if code is None:
        raise SystemExit(f"run exceeded {RUN_TIMEOUT_S} s and was killed; see {err}")
    if result is None or code != 0 or not result["correct"]:
        sys.stderr.write("".join(err.read_text().splitlines(True)[-30:]))
        sys.stdout.write(stdout)
        raise SystemExit(f"run failed (exit {code}); see {err}")
    sys.stdout.write(stdout)


if __name__ == "__main__":
    main()
