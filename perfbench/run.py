#!/usr/bin/env python3
"""Run one benchmark workload of the graft extraction engine.

    python3 perfbench/run.py --workload extract|ingest|queries \
        --seed N --seconds S --trace 0|1

Run it from the repository root. The first call builds the program and
the benchmark from source with sbt (offline) into `.bench_build/`; later
calls reuse that build while the sources are unchanged. Each call then
starts one JVM for the workload, which prints every metric by name and,
as the last line of standard output, one JSON result object. The exit
code is 0 only when every output was checked correct.
"""
import argparse
import hashlib
import os
import pathlib
import signal
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
LAUNCH = BUILD / "launch"
# a fixed, pre-touched heap is resident in full, so VmHWM minus the heap is
# the program's memory outside it; the heap it holds is measured apart
HEAP = ["-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch"]
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file whose change calls for a rebuild."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Build unless the sources are unchanged; return their stamp."""
    want = stamp()
    stamp_file = LAUNCH / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == want:
        return want
    LAUNCH.mkdir(parents=True, exist_ok=True)
    opts = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline",
               PERFBENCH_LAUNCH_DIR=str(LAUNCH))
    log("building the program and the benchmark with sbt")
    # sbt's own log goes to stderr: standard output carries the result
    r = subprocess.run(["sbt", "--batch", *opts, "launcher"], cwd=HERE,
                       env=env, stdout=sys.stderr, stderr=sys.stderr,
                       timeout=850)
    if r.returncode != 0:
        sys.exit(f"[perfbench] build failed (sbt exit {r.returncode})")
    stamp_file.write_text(want)
    return want


def stop(signum, _frame):
    raise SystemExit(f"[perfbench] stopped by signal {signum}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["extract", "ingest", "queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("[perfbench] the program's sources (src/main/scala/graft) "
                 "are not here: run from the repository root")
    source = build()

    cp = (LAUNCH / "classpath.txt").read_text().strip()
    jopts = [o for o in (LAUNCH / "javaopts.txt").read_text().split("\n")
             if o and not o.startswith(("-Xmx", "-Xms"))]
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *HEAP, *jopts, f"-Djava.io.tmpdir={tmp}",
           "-Duser.timezone=UTC", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", str(BUILD / "work" / a.workload),
           # generated inputs (the corpus and its goldens, the committed
           # store, the expected survivors) come from the program's code,
           # so they are cached per source stamp as well as per seed
           "--cache", str(BUILD / "inputs" / source[:16]),
           "--home", str(HERE)]
    # a terminated run stops its JVM too
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGHUP, stop)
    proc = subprocess.Popen(cmd, cwd=ROOT,
                            env=dict(os.environ, MALLOC_ARENA_MAX="2"))
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except BaseException:
        proc.kill()
        proc.wait()
        sys.exit(f"[perfbench] {a.workload} did not finish in "
                 f"{JVM_TIMEOUT_S} s; stopped")
    sys.exit(code)


if __name__ == "__main__":
    main()
