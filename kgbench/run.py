#!/usr/bin/env python3
"""Host-shaped graft KG-construction benchmark.

Run from the repository root:

    python3 kgbench/run.py --workload build|expand|canon --seed N --seconds S --trace 0|1

Builds the engine and the harness from source with sbt (skipped when the
sources have not changed since the last build), then runs one JVM on
local[nproc]. The last line of stdout is one JSON object with the keys
correct, attempted, failed and metrics. Exits non-zero, printing no result,
when the engine sources are missing or the build or the run fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "kgbench"
WORK = BENCH / ".work"
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
STAMP = BENCH / "target" / "kgbench.stamp"
DEADLINE_S = 175  # a run must end within 180 s once built
BUILD_DEADLINE_S = 700

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[kgbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    roots = [ROOT / "src" / "main" / "scala", BENCH / "src"]
    files = [p for r in roots for p in r.rglob("*.scala")]
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    return sorted(files)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group. The whole group is killed, and
    waited for, on timeout or when this script is terminated."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum=None, frame=None):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if signum is not None:
            sys.exit(128 + signum)

    handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop()
        fail(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
    finally:
        for s, h in handlers.items():
            signal.signal(s, h)
    return p.returncode, out


def spark_home():
    """SPARK_HOME, or else the first Spark distribution (a spark-submit with a
    jars/ directory beside its bin/) on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        if submit.is_file() and (submit.resolve().parent.parent / "jars").is_dir():
            return submit.resolve().parent.parent
    fail("no Spark distribution: set SPARK_HOME or put its bin/ on PATH")


def build():
    files = sources()
    stamp = stamp_of(files)
    if STAMP.exists() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return
    env = dict(os.environ, SPARK_HOME=str(spark_home()))
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    code, _ = run_group(["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true", "compile"],
                        BUILD_DEADLINE_S, cwd=BENCH, env=env, stdout=sys.stderr)
    if code != 0:
        fail(f"build failed (sbt exit {code})")
    STAMP.write_text(stamp)
    print(f"[kgbench] built in {time.time() - t0:.0f} s", file=sys.stderr)


def heap():
    """Fixed, pre-touched heap as in tier-1: SPARK_DRIVER_MEM, or else half of
    RAM clamped to 2..3 GiB. The corpora are small; a larger heap only adds
    pre-touch time and takes memory from the page cache the build workload's
    parquet reads use."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    gib = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gib = min(3, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return f"{gib}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["build", "expand", "canon"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("engine sources (src/main/scala/graft) not found; run from the repository root")
    if not (BENCH / "build.sbt").is_file():
        fail("kgbench/build.sbt not found; run from the repository root")
    build()

    cp = os.pathsep.join([str(CLASSES), str(spark_home() / "jars" / "*")])
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    mem = heap()
    cmd = ["java", f"-Xms{mem}", f"-Xmx{mem}", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={WORK / 'tmp'}", f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(WORK)]
    env = dict(os.environ, GRAFT_STAGE_DIR=str(WORK / "stage"), SPARK_LOCAL_DIRS=str(WORK / "spark-local"))
    code, out = run_group(cmd, DEADLINE_S, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    shutil.rmtree(WORK, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"benchmark JVM failed (exit {code})")
    print(lines[-1])


if __name__ == "__main__":
    main()
