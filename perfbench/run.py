#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (offline; the benchmark's build depends on
the engine's build at the root); later runs reuse the build while no
source file changed. Each run gets its own scratch
directory under .perfbench_runs/ (removed at the end) and leaves one detail
file under .perfbench_out/, named by workload, seed, cpus and trace flag.
"""
import argparse
import hashlib
import json
import os
import secrets
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("stream_cascade", "query_board")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load1():
    return os.getloadavg()[0]


def source_digest():
    """Digest of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", ROOT / "build.sbt", HERE / "src" / "main",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for r in roots:
        files = [r] if r.is_file() else sorted(p for p in r.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt unless the recorded digest matches the sources."""
    cp_file = HERE / "target" / "classpath.txt"
    stamp = HERE / "target" / "build.digest"
    digest = source_digest()
    if cp_file.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    log("building engine + benchmark with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
        timeout=850)
    if proc.returncode != 0 or not cp_file.is_file():
        raise SystemExit(f"[perfbench] build failed (sbt exit {proc.returncode})")
    stamp.write_text(digest)
    log(f"build done in {time.time() - t0:.1f} s")
    return cp_file.read_text().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala").is_dir():
        log(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
        return 2
    cpus = os.cpu_count() or 1
    log(f"start: workload={a.workload} seed={a.seed} cpus={cpus} "
        f"load1={load1():.2f}")
    classpath = build()

    tag = f"{a.workload}-s{a.seed}-c{cpus}-t{a.trace}"
    run_dir = ROOT / ".perfbench_runs" / f"{tag}-{secrets.token_hex(4)}"
    out_dir = ROOT / ".perfbench_out"
    result = run_dir / "result.json"
    detail = out_dir / f"{tag}-{run_dir.name[-8:]}.json"
    (run_dir / "tmp").mkdir(parents=True)
    out_dir.mkdir(exist_ok=True)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Xmx3g", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cpus", str(cpus), "--run-dir", str(run_dir),
           "--data", str(HERE / "data" / "sf0.1"),
           "--pins", str(HERE / "board_pins.json"),
           "--result", str(result), "--detail", str(detail)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s; stopping it")
        proc.kill()
        proc.wait()
        rc = -1
    try:
        line = result.read_text().strip() if rc == 0 and result.is_file() else None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log(f"end: rc={rc} load1={load1():.2f} detail={detail.relative_to(ROOT)}")
    if line is None:
        log("no result")
        return 1
    json.loads(line)  # refuse to print anything that is not one JSON object
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
