#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload knn_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (into target/ and perfbench/target/);
later runs reuse the build while the sources are unchanged. Inputs,
logs and the span file of a traced run go to perfbench/.work/.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("embed_ingest", "knn_serve", "dedup_curate")
RUN_LIMIT_S = 175      # a run that reuses the build is stopped after this
BUILD_LIMIT_S = 840    # a run that builds first is stopped after this + 50 s
HEAP = "3g"

ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, limit, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    return p.returncode


def build(deadline):
    """Compile with sbt unless the sources match the last build; return the classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        # Resolve from the local caches only, through the user's
        # repository list when there is one.
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        opts = ["-Dsbt.offline=true"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false",
                        "export perfbench/Runtime/fullClasspath"],
                       max(60, deadline - time.time()), cwd=HERE, env=env,
                       stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (exit {rc}); see {log}", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds <= 0:
        fail("--seconds must be positive")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine sources not found ({need}); run from a full checkout")

    start = time.time()
    os.makedirs(WORK, exist_ok=True)
    cp = build(start + BUILD_LIMIT_S)

    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    runs = os.path.join(WORK, "runs")
    tmp = os.path.join(WORK, f"tmp-{tag}")
    local = os.path.join(WORK, f"local-{tag}")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.makedirs(runs, exist_ok=True)
    out_path = os.path.join(WORK, f"out-{tag}.txt")
    err_path = os.path.join(WORK, f"err-{tag}.log")
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", os.path.join(runs, tag)]
    limit = max(30.0, min(RUN_LIMIT_S, start + BUILD_LIMIT_S + 50 - time.time()))
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(out_path, "w") as out, open(err_path, "w") as err:
        rc = run_group(cmd, limit, cwd=ROOT, env=env, stdout=out, stderr=err,
                       stdin=subprocess.DEVNULL)
    shutil.rmtree(os.path.join(runs, tag, "inputs"), ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(local, ignore_errors=True)
    with open(out_path) as f:
        lines = f.read().splitlines()
    result = [l for l in lines if l.startswith("RESULT ")]
    if rc != 0 or len(result) != 1:
        with open(err_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("timed out" if rc is None else f"benchmark exited {rc} without a result", 4)
    res = json.loads(result[0][len("RESULT "):])
    for l in lines:
        if not l.startswith("RESULT "):
            print(l)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
