#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

Usage, from the root of a source tree:

    python3 perfbench/run.py --workload tile_pushed --seed 1 --seconds 22 --trace 0

The first run in a tree builds the engine and the benchmark with sbt
(offline) under `.bench_build/`; later runs reuse the classpath unless a
Scala source is newer than it. Each run starts one JVM on `local[nproc]`,
which writes a JSON record of the run to `.bench_build/records/`. The last
line printed is the one-line result:

    {"correct": true, "attempted": 2, "failed": 0, "metrics": {...}}

with the end-to-end metrics under `--trace 0` and the per-layer metrics
under `--trace 1`. Workloads, metrics and their definitions are in
`perfbench/README.md`.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("tile_pushed", "tile_values", "query_surface")
BENCH = "perfbench"
BUILD = ".bench_build"
# hard limit for one run, build excluded; the harness allows 180 s
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# heap committed in full at start, so G1 does not size it by pause times,
# which follow how busy the host is
HEAP = "2g"

# Spark on JDK 17 needs these when it is started outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
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


def sources():
    files = glob.glob("src/main/scala/**/*.scala", recursive=True)
    files += glob.glob(f"{BENCH}/src/main/scala/**/*.scala", recursive=True)
    files += ["build.sbt", f"{BENCH}/build.sbt"]
    return sorted(f for f in files if os.path.isfile(f))


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def git_head():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unavailable"
    except (OSError, subprocess.SubprocessError):
        return "unavailable"


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    # sbt keeps its server socket under java.io.tmpdir: keep it in the tree
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(files):
    """Build with sbt when the stored classpath is missing or stale."""
    stamp = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(stamp) and all(os.path.getmtime(f) <= os.path.getmtime(stamp) for f in files):
        with open(stamp) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=BENCH, env=sbt_env(), stdout=fh, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed; see {log}")
    cp = lines[-1]
    tmp = stamp + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(cp + "\n")
    os.replace(tmp, stamp)
    return cp


def run_jvm(cmd, env, log, deadline):
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, env=env, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s; see {log}")
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def summary(result, record):
    """Human-readable lines, with mpx_per_s and query_p50_s/query_p95_s where they apply."""
    m = {k: v["value"] for k, v in result["metrics"].items()}
    wl = record["header"]["workload"]
    lines = [f"workload {wl} seed {record['header']['seed']} trace {int(record['header']['trace'])}",
             f"correct {result['correct']} attempted {result['attempted']} failed {result['failed']} "
             f"failed_frac {result['failed'] / result['attempted']:.4f}"]
    for k, v in result["metrics"].items():
        lines.append(f"  {k:42s} {v['value']:.6g} {v['unit']}")
    if "run_s" in m and wl.startswith("tile_"):
        lines.append(f"  {'mpx_per_s':42s} {record['workload']['pixels'] / 1e6 / m['run_s']:.6g} Mpx/s")
    if "op_p50_s" in m and wl == "query_surface":
        lat = record["latency"]
        lines.append(f"  {'query_p50_s':42s} {m['op_p50_s']:.6g} s")
        lines.append(f"  {'query_p95_s':42s} {lat['op_p95_s']:.6g} s ({lat['samples']} samples, not gated)")
    h = record["host"]
    lines.append(f"host load1 {h['load1_before']} -> {h['load1_after']}, "
                 f"steal ticks +{h['steal_ticks_delta']}")
    for note in record["check"]["notes"][:10]:
        lines.append(f"check: {note}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not os.path.isdir("src/main/scala") or not os.path.isfile("build.sbt"):
        fail("no engine sources here (src/main/scala, build.sbt); run from the root of a source tree")
    files = sources()
    cp = classpath(files)
    deadline = time.monotonic() + RUN_LIMIT_S

    cores = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.abspath(os.path.join(BUILD, "work", tag))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    for d in ("records", "logs"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    record_path = os.path.abspath(os.path.join(BUILD, "records", f"{tag}.json"))
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    if os.path.exists(record_path):
        os.remove(record_path)

    env = dict(os.environ)
    env.pop("SPARK_GRAFT_PUSHED", None)
    if a.workload == "tile_values":
        env["SPARK_GRAFT_PUSHED"] = "0"
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--work", work,
            "--data", os.path.abspath(os.path.join(BENCH, "data")),
            "--panel", os.path.abspath(os.path.join(BENCH, "panel.tsv")),
            "--record", record_path,
            "--header-git_head", git_head(), "--header-source_sha256", source_digest(files)])
    try:
        rc = run_jvm(cmd, env, log, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.isfile(record_path):
        fail(f"run failed (exit {rc}); see {log}")
    with open(record_path) as fh:
        record = json.load(fh)
    result = record["result"]
    print(summary(result, record))
    print(f"record {os.path.relpath(record_path)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
