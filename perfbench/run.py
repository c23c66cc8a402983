#!/usr/bin/env python3
"""Build the program and the harness from source, then run one benchmark workload.

    python3 perfbench/run.py --workload etl_recon --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run compiles the program and the
harness with sbt (the program through its own build file) and caches the
resulting classpath under `.bench_build/`; later runs reuse it while no
source file changed. The harness runs in one JVM on `local[nproc]`; its
diagnostics go to stderr and its last stdout line is the JSON result.
Extra flags (`--scale tiny`, `--plant-wrong 1`, `--plant-stall 1`,
`--op-timeout <s>`) are passed through to the harness;
`perfbench/selftest.py` uses them.
"""
import hashlib
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD_DIR = ROOT / ".bench_build" / "perfbench"
# Temporary files (native libraries Spark and sbt unpack, Spark's own
# directories) stay inside the checkout.
TMP_DIR = ROOT / ".bench_work" / "tmp"
BUILD_TIMEOUT_S = 840
# The harness starts no operation after 110 s and times one out after 30 s,
# so a run that still prints its result ends well inside this.
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (the program's build.sbt
# passes the same list to its forked tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: program sources, harness sources, build files."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", HERE / "src" / "main"):
        if tree.is_dir():
            inputs += sorted(p for p in tree.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.is_file() else b"<missing>")
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={TMP_DIR}", "-Dsbt.server.autostart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    return env


def build():
    """Compile with sbt and return the runtime classpath (cached by source stamp)."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD_DIR / "classpath.txt", BUILD_DIR / "stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD_DIR.mkdir(parents=True, exist_ok=True)
    log("building program and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        log(f"build failed (exit {proc.returncode})")
        sys.exit(2)
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"build done in {time.time() - t0:.1f}s")
    return cp


def main():
    args = sys.argv[1:]
    if "--workload" not in args:
        log("usage: run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>")
        sys.exit(2)
    TMP_DIR.mkdir(parents=True, exist_ok=True)
    cp = build()
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={TMP_DIR}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"harness exceeded {RUN_TIMEOUT_S}s; killed")
        sys.exit(3)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        log(f"harness failed (exit {proc.returncode})")
        sys.exit(proc.returncode or 4)
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
