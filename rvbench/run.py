#!/usr/bin/env python3
"""Run one rearview-core benchmark workload.

    python3 rvbench/run.py --workload tick_fleet --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout of the repository. The first run builds
the program and the benchmark from source with sbt (the build is reused
while the sources are unchanged); every run then starts one JVM that
drives the program through its public functions. The last line of
standard output is the JSON result; earlier lines carry the correctness
checks and a `[detail]` record. Exits non-zero, without a result, when the
program cannot be built or a run does not finish.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
ARCHIVE = os.path.join(BUILD, "classes.jsa")  # class-data-sharing archive every run uses
WORKLOADS = ("tick_fleet", "api_mix", "ingest_replay")
RUN_LIMIT_S = 175  # a run must end within 180 s
BUILD_LIMIT_S = 850  # the first run may build for up to 900 s
HEAP = "2g"

# Spark on JDK 17 needs these outside spark-submit (the root build's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[rvbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, relative to the repository root."""
    out = []
    for top in ("build.sbt", "project", "src/main", "rvbench/build.sbt", "rvbench/project",
                "rvbench/src"):
        path = os.path.join(REPO, top)
        if os.path.isfile(path):
            out.append(top)
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            for f in sorted(filenames):
                out.append(os.path.relpath(os.path.join(dirpath, f), REPO))
    return out


def stamp(files):
    h = hashlib.sha256()
    for rel in files:
        h.update(rel.encode())
        with open(os.path.join(REPO, rel), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    return env


def jvm(cp, root, args, extra=()):
    """The java command for one benchmark JVM with its run root."""
    tmp = os.path.join(root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC", *extra,
               "-cp", cp, "rvbench.Main", *args, "--root", root])


def jar_dirs(cp):
    """Pack the class directories of the classpath into jars: the JVM's
    class-data-sharing archive covers classes from jars only."""
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            dest = os.path.join(BUILD, f"classes-{i}.jar")
            with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
                for dirpath, _, filenames in sorted(os.walk(entry)):
                    for f in sorted(filenames):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, entry))
            entry = dest
        out.append(entry)
    return os.pathsep.join(out)


def record_archive(cp, timeout):
    """One short training run that records the classes a run loads into a
    class-data-sharing archive, so every measured run starts its JVM and
    Spark session faster. Every measured run uses the archive, so a build
    that cannot make it fails."""
    root = os.path.join(WORK, f"train-{os.getpid()}")
    try:
        proc = subprocess.run(
            jvm(cp, root, ["--workload", "ingest_replay", "--seed", "0", "--seconds", "1",
                           "--trace", "0"], [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]),
            cwd=REPO, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            stdin=subprocess.DEVNULL, timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit("rvbench: build failed (the class-data-sharing training run timed out)")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    if proc.returncode != 0 or not os.path.isfile(ARCHIVE):
        raise SystemExit(f"rvbench: build failed (the class-data-sharing training run exited "
                         f"with {proc.returncode})")


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    files = sources()
    if not any(f.startswith("src/main/") for f in files) or "build.sbt" not in files:
        raise SystemExit("rvbench: the program's sources (build.sbt, src/main) are not here; "
                         "run from the root of a repository checkout")
    want = stamp(files)
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if all(os.path.isfile(f) for f in (cp_file, stamp_file, ARCHIVE)):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    shutil.rmtree(BUILD, ignore_errors=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export rvbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines)
               if not l.startswith("[") and (".jar" in l or "classes" in l)), None)
    if proc.returncode != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"rvbench: build failed (sbt exit {proc.returncode})")
    os.makedirs(BUILD)
    cp = jar_dirs(cp)
    record_archive(cp, max(30, BUILD_LIMIT_S - (time.time() - t0)))
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return cp


def valid(result):
    return (isinstance(result, dict)
            and set(result) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(result["attempted"], int) and result["attempted"] >= 1
            and isinstance(result["metrics"], dict) and result["metrics"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    started = time.time()
    cp = build()
    root = os.path.join(WORK, f"run-{os.getpid()}-{int(started * 1000)}")
    cmd = jvm(cp, root, ["--workload", args.workload, "--seed", str(args.seed),
                         "--seconds", str(args.seconds), "--trace", args.trace],
              [f"-XX:SharedArchiveFile={ARCHIVE}"])
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=REPO, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                                text=True, start_new_session=True)
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
        limit = RUN_LIMIT_S if time.time() - started < 60 else BUILD_LIMIT_S + 40
        try:
            out, _ = proc.communicate(timeout=max(10, limit - (time.time() - started)))
        except subprocess.TimeoutExpired:
            raise SystemExit("rvbench: run did not finish in time")
        lines = out.splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(out)
            raise SystemExit(f"rvbench: benchmark JVM exited with {proc.returncode}")
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
        if not valid(result):
            sys.stderr.write(out)
            raise SystemExit("rvbench: the run printed no valid result line")
        for line in lines[:-1]:
            print(line)
        print(json.dumps(result), flush=True)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass


if __name__ == "__main__":
    main()
