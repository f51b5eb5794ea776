#!/usr/bin/env python3
"""Run one tcdb benchmark workload and print its metrics.

    python3 perfbench/run.py --workload tc_cycles --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first call builds the program and the
benchmark from source with sbt (offline) into the build directory
($CARGO_TARGET_DIR, else .bench_build) and caches the classpath; it rebuilds
whenever a source or build file changes. Each run then starts one fresh JVM
(`java` straight from that classpath, fixed heap) on local[nproc], which sets
up the workload, times whole rounds for --seconds, and checks every output.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1). The line before it records the run environment. Full run records
(op samples, bytes, problems, spans) are kept under
<build dir>/records/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tc_cycles", "curation")
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def source_stamp():
    """Hash of every file the build reads, so any edit forces a rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    trees = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [f for f in tops if os.path.isfile(f)]
    for t in trees:
        for dirpath, dirnames, names in os.walk(t):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env(bdir):
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        tmp = os.path.join(bdir, "sbt-tmp")
        os.makedirs(tmp, exist_ok=True)
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath(bdir):
    """Build (when sources changed) and return the runtime classpath."""
    stamp_file = os.path.join(bdir, "classpath.stamp")
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cached, cp = f.read(), g.read()
        if cached == stamp and all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    os.makedirs(bdir, exist_ok=True)
    log = os.path.join(bdir, "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(bdir), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if code != 0 or not cp or cp.startswith("[") or ".jar" not in cp:
        fail(f"build failed (exit {code}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def steal_jiffies():
    """Host steal time (all CPUs) from /proc/stat; None where unavailable."""
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu "):
                    return int(line.split()[8])
    except (OSError, IndexError, ValueError):
        pass
    return None


def foreign_jvms():
    """Java processes outside this process's own ancestry."""
    ancestry, pid = set(), os.getpid()
    while pid > 1:
        ancestry.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as f:
                pid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            break
    n = 0
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) in ancestry:
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().split(b"\0")[0]
        except OSError:
            continue
        if b"java" in cmd:
            n += 1
    return n


def round0_wall(rec):
    """Wall seconds of each op kind's round-0 sample in a run record."""
    ops = rec.get("op_round_traced_wall_cpu_seconds", {})
    return {k: xs[0][2] for k, xs in ops.items() if xs and xs[0][0] == 0}


def traced_vs_untraced(records, workload, rec):
    """Round-0 op wall time of this traced run over the median of the
    untraced runs of the same workload recorded in this build directory:
    the tracing overhead end to end, where such runs exist."""
    walls = {}
    prefix = f"{workload}-seed"
    for name in os.listdir(records):
        if name.startswith(prefix) and name.endswith("-trace0.json"):
            try:
                with open(os.path.join(records, name)) as f:
                    other = json.load(f)
            except (OSError, ValueError):
                continue
            for k, w in round0_wall(other).items():
                walls.setdefault(k, []).append(w)
    mine = round0_wall(rec)
    return {k: {"ratio": round(w / statistics.median(walls[k]), 4),
                "untraced_runs": len(walls[k])}
            for k, w in mine.items() if walls.get(k)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {', '.join(WORKLOADS)}")
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no program sources at {ROOT}: run from the root of a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    bdir = build_dir()
    cp = classpath(bdir)

    cores = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(bdir, "work", f"{tag}-{os.getpid()}")
    records = os.path.join(bdir, "records")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(records, exist_ok=True)
    out = os.path.join(records, f"{tag}.json")
    log = os.path.join(records, f"{tag}.log")
    if os.path.exists(out):
        os.remove(out)

    jvms = foreign_jvms()
    steal0 = steal_jiffies()
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss64m", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
              f"-Dspark.local.dir={work}/spark-local",
              f"-Djava.io.tmpdir={work}/tmp",
              f"-Dspark.sql.warehouse.dir={work}/warehouse",
              f"-Dderby.system.home={work}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work, "--out", out, "--cores", str(cores)])
    t0 = time.time()
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    steal1 = steal_jiffies()
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(out):
        with open(log) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail(f"run {'timed out' if code is None else f'exited {code}'}; see {log}")

    with open(out) as f:
        rec = json.load(f)
    env = dict(rec.get("env", {}))
    env.update({
        "nproc": cores, "heap": f"-Xms{HEAP} -Xmx{HEAP}",
        "steal_jiffies": (steal1 - steal0) if None not in (steal0, steal1) else None,
        "foreign_jvms": jvms, "run_wall_s": round(time.time() - t0, 3),
    })
    rec["env"] = env
    if a.trace:
        rec["traced_vs_untraced_round0_wall"] = traced_vs_untraced(records, a.workload, rec)
    with open(out, "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps({"env": env, "problems": rec.get("problems", []),
                      "known_faults": rec.get("known_faults", []),
                      "traced_vs_untraced_round0_wall":
                          rec.get("traced_vs_untraced_round0_wall")}))
    print(json.dumps({k: rec[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
