#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload cdc_medallion --seed 1 --seconds 10 --trace 0

Run from the root of the checkout. The first run builds: sbt compiles
the engine's sources (src/main/scala) together with the benchmark's own
sources in perfbench/src, the classes are packed into
.bench_build/perfbench.jar, and a short training run dumps a
class-data-sharing archive for faster JVM start. Later runs reuse that
build while the sources are unchanged. The last line of standard output is one JSON object with
the keys correct, attempted, failed and metrics. Details and Spark's
logs go to standard error.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("cdc_medallion", "lake_scan", "llm_curation")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# the module options spark-submit would add on JDK 17
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


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def java_cmd(cp, args, work, archive_opt):
    return (["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", "-Xshare:auto",
             "-Xlog:disable", "-Xlog:all=error:stderr", archive_opt, "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, "perfbench.Main"] + args + ["--work", work])


def train_archive(cp):
    """Dump a class-data-sharing archive of the classes one short run
    loads, so every measured run starts its JVM the same, faster way.
    Without an archive the runs still work, only slower to start."""
    work = os.path.join(BUILD, "work", "cds-training")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    subprocess.run(java_cmd(cp, ["--workload", "cdc_medallion", "--seed", "0", "--seconds", "1",
                                 "--trace", "0"], work, f"-XX:ArchiveClassesAtExit={ARCHIVE}"),
                   cwd=work, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                   timeout=RUN_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)


def build():
    """Compile with sbt (offline) unless the stamped build is current;
    returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's own state and temp files stay in the build directory; the
    # dependency cache it reads is the toolchain's
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cps = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not cps:
        fail("build printed no classpath")
    # class-data sharing archives classes from jars only: pack the
    # compiled classes into one
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    jar = os.path.join(BUILD, "perfbench.jar")
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, fs in os.walk(classes):
            for f in sorted(fs):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    cp = os.pathsep.join(jar if e == classes else e for e in cps[-1].strip().split(os.pathsep))
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    train_archive(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        fail("engine sources (src/main/scala) not found: run from the root of a checkout")
    cp = build()

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_cmd(cp, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                        "--trace", str(a.trace)], work, f"-XX:SharedArchiveFile={ARCHIVE}")
    try:
        proc = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.splitlines()
    results = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in results:
            print(l, file=sys.stderr)
    if proc.returncode != 0 or not results:
        fail(f"run failed (exit {proc.returncode})")
    print(results[-1])


if __name__ == "__main__":
    main()
