#!/usr/bin/env python3
"""Run one perfbench workload and print its result as the last stdout line.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload seq_dml --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from the checkout's sources with sbt
when they are missing or have changed (offline, from the local caches),
then runs the benchmark JVM (perfbench.Main) once. Everything the run
writes stays under perfbench/.work (removed at exit), perfbench/.build and
perfbench/out, plus sbt's target directories.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".build"
# the workloads BENCHMARK.json declares, and one more that runs by hand
WORKLOADS = ("seq_dml", "catalog_mix")
BY_HAND = ("many_versions",)
# a run must end within 180 s; the first one in a checkout also builds
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit; the same list the program's own build passes its JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every input of the build, in a stable order."""
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.exists() else b"<missing>")
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Runs cmd in its own process group; kills the group and waits for it
    when the limit passes. Returns (returncode, stdout)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
        return proc.returncode, out
    except BaseException:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        raise


def classpath():
    """The runtime classpath of the benchmark and whether it was built now;
    builds when the sources changed since the last build."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    want = stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == want:
        return cp_file.read_text().strip(), False
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    try:
        code, out = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            BUILD_LIMIT_S, cwd=BENCH, env=env, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        fail(f"build did not finish within {BUILD_LIMIT_S} s")
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed with exit code {code}")
    lines = [l for l in out.splitlines() if "classes" in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(want)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1].strip(), True


def check_result(line, trace):
    """The result line must carry exactly the metrics BENCHMARK.json
    declares for this mode, each with its declared unit."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    result = json.loads(line)
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(result)}")
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    if got != declared:
        raise ValueError(f"metrics {got} do not match BENCHMARK.json {declared}")
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        raise ValueError("attempted must be a whole number of at least 1")
    return result


def main():
    # turn SIGTERM into an exception, so run_bounded stops the child first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + BY_HAND)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    started = time.time()

    for needed in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft",
                   ROOT / "BENCHMARK.json"):
        if not needed.exists():
            fail(f"{needed.relative_to(ROOT)} is missing; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    cp, built = classpath()
    work = BENCH / ".work" / f"{a.workload}-{os.getpid()}"
    out_dir = BENCH / "out"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work), "--out", str(out_dir)]
    try:
        # a run that built gets the whole limit after the build
        limit = RUN_LIMIT_S - (0 if built else time.time() - started)
        try:
            code, out = run_bounded(cmd, limit, cwd=work, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            fail(f"the run did not finish within {limit:.0f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    for line in lines[:-1]:
        print(line)
    if code != 0 or not lines:
        fail(f"benchmark exited with code {code}")
    try:
        result = check_result(lines[-1], a.trace == 1)
    except (ValueError, KeyError, TypeError) as e:
        fail(f"bad result line: {e}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
