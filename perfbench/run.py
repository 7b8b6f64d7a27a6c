#!/usr/bin/env python3
"""Graft benchmark: one seeded closed-loop workload, one client.

Usage (from the repo root):
  python3 perfbench/run.py --workload rag_qa --seed 1 --seconds 20 --trace 0

Builds the engine and the harness (perfbench/build.sbt, on first use or
when a source changed), generates the seeded inputs into a fresh
directory under perfbench/work/, runs the JVM harness
(graft.perfbench.Main), checks every op's output, and prints one JSON
line last: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Exits non-zero when any output check fails.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import metrics as metrics_mod  # noqa: E402

WORKLOADS = ("rag_qa", "ingest_serve")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_HEAP = "2g"
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
CLASSPATH = os.path.join(HERE, "target", "perfbench.classpath")

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: build files and sources."""
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, fs in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".sbt", ".properties")) or
                      "resources" in d]
    files += [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamp says the classes are current.
    Returns (runtime classpath, whether it compiled)."""
    stamp = source_stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH) as g:
                    return g.read().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, err = p.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)  # sbt's launcher forks the JVM
        p.communicate()
        fail("build timed out")
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out[-4000:] + err[-2000:])
        fail("build failed")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(stamp)
    return lines[-1].strip(), True


def graft_tmp_dirs():
    tmp = "/tmp"
    return {x for x in os.listdir(tmp) if x.startswith("graft_")} \
        if os.path.isdir(tmp) else set()


def rm_keyed(dirs, keep):
    """Remove the engine's /tmp/graft_<kind>/<sanitized dir> sidecars
    keyed to dirs, and any /tmp/graft_* parent this run created (not in
    `keep`) that is left empty. The harness deletes its own before each
    set-up; this is the fallback for a harness that crashed."""
    sane = [re.sub(r"[^a-zA-Z0-9]", "_", d.rstrip("/")) for d in dirs]
    for x in graft_tmp_dirs():
        for n in sane:
            shutil.rmtree(os.path.join("/tmp", x, n), ignore_errors=True)
        if x not in keep:
            try:
                os.rmdir(os.path.join("/tmp", x))
            except OSError:
                pass


def run_jvm(cp, args, work, deadline):
    local = os.path.join(work, "spark-local")
    jtmp = os.path.join(work, "jtmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(jtmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={jtmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", cp, "graft.perfbench.Main"] + args)
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, env=env,
                         start_new_session=True)
    try:
        rc = p.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = "timeout"
    finally:
        log.close()
    return rc


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("engine sources not found next to perfbench/; run from a full checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")
    cp, built = build()

    # set-up starts here: the build is not part of it
    t0 = time.time()
    deadline = (t0 if built else T_START) + RUN_TIMEOUT_S
    work = os.path.join(HERE, "work", f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sf = os.path.join(work, "sf")
    pool = os.path.join(work, "ingest")
    inputs_hash = gen.generate(sf, a.seed)
    if a.workload == "ingest_serve":
        gen.ingest_pool(pool, a.seed, gen.ingest_epochs(a.seconds, a.trace))
    print(f"inputs sha256={inputs_hash} planted={json.dumps(gen.PLANTED)}")
    sys.stdout.flush()
    keyed = [sf, pool]
    tmp_before = graft_tmp_dirs()
    raw_path = os.path.join(work, "raw.json")
    try:
        rc = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds),
                          str(a.trace), sf, work, raw_path], work, deadline)
        if rc != 0 or not os.path.exists(raw_path):
            with open(os.path.join(work, "jvm.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"harness exited with {rc}", 1)
        with open(raw_path) as f:
            raw = json.load(f)
        bad, notes = checks.check(a.workload, raw, sf, pool)
    finally:
        rm_keyed(keyed, tmp_before)
    attempted = len(raw["ops"])
    failed = len([o for o in raw["ops"] if not o["ok"] or o["i"] in bad])
    if a.trace:
        metrics = layers.per_layer(raw, bad)
    else:
        metrics = layers.end_to_end(raw, bad, t0)
    detail = layers.detail(raw, bad, t0, notes)
    print("detail " + json.dumps(detail, sort_keys=True))
    correct = attempted >= 1 and failed == 0 and not notes.get("errors")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(metrics_mod.result_line(correct, attempted, failed, metrics)))
    sys.stdout.flush()
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
