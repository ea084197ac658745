#!/usr/bin/env python3
"""Facade benchmark: builds the engine and the benchmark from source, then
runs one workload against graft.api.SearchEngine in one JVM.

    python3 facadebench/run.py --workload serve|ingest_mixed \
        --seed N --seconds S --trace 0|1

Run it from the repository root. The first run in a checkout compiles with
sbt (offline) into .bench_build/; later runs reuse the classpath until a
source file changes. The last stdout line is the result JSON.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("serve", "ingest_mixed")
RUN_LIMIT_S = 170  # a run must end within 180 s; the build is not counted

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"facadebench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """every file the build reads, in a stable order"""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".properties", ".scala"))
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def digest():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = pathlib.Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """compile if the sources changed since the last build; return the
    runtime classpath"""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no engine sources next to the benchmark (expected build.sbt and src/main/scala)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    stamp, cp_file = BUILD / "sources.sha256", BUILD / "classpath.txt"
    key = digest()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == key:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    print("facadebench: compiling (first run in this checkout)", file=sys.stderr)
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        fail(f"build failed (sbt exit {out.returncode})")
    cp = lines[-1].strip()
    if not all(pathlib.Path(p).exists() for p in cp.split(os.pathsep)):
        sys.stderr.write(out.stdout[-4000:])
        fail("build did not produce a classpath")
    cp_file.write_text(cp)
    stamp.write_text(key)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    work = BUILD / "work" / f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # -XX:-UsePerfData: no hsperfdata file outside the checkout
        "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", cp, "graft.facadebench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work)]
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    print(f"facadebench: {a.workload} seed {a.seed} took {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
