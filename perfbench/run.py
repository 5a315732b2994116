#!/usr/bin/env python3
"""Pipeline-pass benchmark for the graft Spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload mta_dbt --seed 1 --seconds 25 --trace 0

Builds the program and the harness from source on first use (sbt,
offline), then runs one workload in a fresh JVM and prints, as the last
line of stdout, one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. Exits non-zero when a query fails or its
output digest differs from the pinned one.

Other modes:
    --pin          re-pin perfbench/digests.json from each workload's cold
                   pass; the passes after it must reproduce the digests
    --self-check   check that the order-free counts repeat under two seeds
    --test         run the harness's own unit tests

Environment: PERFBENCH_DATA (default ~/testdata) is the
read-only test data root, holding sf0.01/ and sf0.1/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
DIGESTS = os.path.join(HERE, "digests.json")
WORKLOADS = ["mta_dbt", "event_analytics", "corpus_dedup", "stream_drains"]
DATA = os.environ.get("PERFBENCH_DATA", os.path.expanduser("~/testdata"))
RUN_LIMIT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_jars():
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        fail("build.sbt names no unmanagedBase Spark jar directory")
    return m.group(1)


def sbt(*tasks, log, timeout):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    # keep sbt's scratch (server socket, file watcher, JVM perf data)
    # inside the checkout; compile against the Spark jars the root
    # build names
    env["SBT_OPTS"] += (f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp}"
                        f" -Dsbt.server.autostart=false -Dperfbench.jars={spark_jars()}")
    with open(log, "w") as out:
        return run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks],
                         cwd=HERE, env=env, stdout=out, timeout=timeout)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the group and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, stderr=subprocess.STDOUT, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def classpath():
    """Compile program + harness if the sources changed; return the
    runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    fp = fingerprint()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as s, open(cp_file) as c:
            cp = c.read().strip()
            if s.read().strip() == fp and all(os.path.exists(e) for e in cp.split(":")):
                return cp
    log = os.path.join(BUILD, "sbt.log")
    rc = sbt("compile", "export Runtime/fullClasspath", log=log, timeout=680)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [ln.strip() for ln in lines if ln.startswith("/") and "classes" in ln]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed", 1)
    with open(cp_file, "w") as c:
        c.write(cps[-1])
    with open(stamp, "w") as s:
        s.write(fp)
    return cps[-1]


def harness(cp, workload, seed, seconds, trace, extra=()):
    """Run the harness JVM once; return its result.json as a dict."""
    scratch, tmp, logs = (os.path.join(WORK, d) for d in ("scratch", "tmp", "logs"))
    for d in (scratch, tmp, logs):
        os.makedirs(d, exist_ok=True)
    result = os.path.join(WORK, "result.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = (["java", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            f"-Dderby.system.home={WORK}"]
           + [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--data", DATA, "--work", WORK, "--digests", DIGESTS, *extra])
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=scratch)
    log = os.path.join(logs, f"{workload}-seed{seed}-trace{trace}.log")
    with open(log, "w") as out:
        rc = run_group(cmd, cwd=WORK, env=env, stdout=out, timeout=RUN_LIMIT_S)
    shutil.rmtree(scratch, ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"harness exited with {rc}; log in {log}", 1)
    with open(result) as fh:
        return json.load(fh)


def declared(trace):
    """Metric names BENCHMARK.json declares for this mode (None if the
    file is absent: report everything the harness measured)."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def report(res, trace):
    names = declared(trace) or sorted(res["metrics"])
    missing = [n for n in names if n not in res["metrics"]]
    if missing:
        fail(f"harness did not report {missing}", 1)
    for n in names + sorted(set(res["metrics"]) - set(names)):
        m = res["metrics"][n]
        gated = "" if n in names else "  (not declared in BENCHMARK.json)"
        print(f"{n:32s} {m['value']:>14.4f} {m['unit']}{gated}")
    for note in res["notes"]:
        print(note)
    for f in res["failures"]:
        print(f"FAILED {f}")
    out = {"correct": res["correct"], "attempted": res["attempted"],
           "failed": res["failed"],
           "metrics": {n: res["metrics"][n] for n in names}}
    print(json.dumps(out))
    return 0 if res["correct"] and res["failed"] == 0 else 1


def preflight():
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    if not os.path.isdir(DATA):
        fail(f"input data {DATA} not found (set PERFBENCH_DATA)")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not on PATH")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--self-check", action="store_true")
    ap.add_argument("--test", action="store_true")
    a = ap.parse_args()
    preflight()
    # one run at a time per checkout: runs share perfbench/.work
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except OSError:
        fail("another perfbench run holds perfbench/.work/lock")

    if a.test:
        os.makedirs(BUILD, exist_ok=True)
        log = os.path.join(BUILD, "test.log")
        rc = sbt("test", log=log, timeout=1200)
        with open(log) as fh:
            print("".join(l for l in fh if "Tests:" in l or "*** FAILED" in l or "error" in l))
        sys.exit(0 if rc == 0 else 1)

    cp = classpath()
    if a.pin:
        pinned = {}
        for w in WORKLOADS:
            part = os.path.join(WORK, f"pin-{w}.json")
            res = harness(cp, w, 0, 0, 0, extra=("--pin", part))
            if res["failed"]:
                fail(f"{w}: digests differ between passes: {res['failures']}", 1)
            with open(part) as fh:
                pinned.update(json.load(fh))
        with open(DIGESTS, "w") as fh:
            json.dump(dict(sorted(pinned.items())), fh, indent=2)
            fh.write("\n")
        print(f"pinned {len(pinned)} digests to {DIGESTS}")
        return
    if a.self_check:
        bad = 0
        for w in [a.workload] if a.workload else WORKLOADS:
            runs = [harness(cp, w, s, a.seconds, 1)["metrics"] for s in (1, 2)]
            for k in ("engine.shared_builds", "exec.output_rows"):
                v = [r[k]["value"] for r in runs]
                ok = v[0] == v[1]
                bad += not ok
                print(f"{w:16s} {k:22s} seed1={v[0]:.0f} seed2={v[1]:.0f} {'ok' if ok else 'DIFFERS'}")
        sys.exit(1 if bad else 0)

    if not a.workload:
        ap.error("--workload is required")
    res = harness(cp, a.workload, a.seed, a.seconds, a.trace)
    sys.exit(report(res, a.trace))


if __name__ == "__main__":
    main()
