#!/usr/bin/env python3
"""The benchmark command for the reflowspark CEP engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (offline) and, for batch_ops, writes the fixed batch tables;
later runs reuse both. Each run is one JVM (perfbench.Main) that generates
the workload's inputs from the seed, sets up, measures for S seconds and
checks every output. The command prints every metric by name and unit, one
line per check, and as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"} -- the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.

--pin prints the batch_ops output hashes in config.json form instead.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
DATA = os.path.join(ROOT, ".bench_data")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# the module options Spark's launcher passes on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads: both builds and all sources."""
    h = hashlib.sha256()
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties")]
    for top in (os.path.join(BENCH, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    cp_file = os.path.join(BENCH, "target", "runtime-classpath.txt")
    stamp_file = os.path.join(BENCH, "target", "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    # keep sbt's temporary files (its launcher script's, and the JVMs' perf
    # data) inside the checkout, and start no sbt server
    tmp = os.path.join(WORK, "sbt_tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false"
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                           cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                           timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def batch_tables(scale):
    """The fixed batch tables at `scale`, generated once per checkout."""
    with open(os.path.join(BENCH, "gen_tables.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(DATA, f"tables-{version}-x{scale}")
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(BENCH, "gen_tables.py"), tmp, str(scale)],
                       check=True)
        os.rename(tmp, out)
    return out


def run_jvm(cp, args, work):
    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    result = os.path.join(work, "result.json")
    # a fixed heap: peak RSS then reads the footprint, not how far G1 chose
    # to grow the heap in this run
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--out", result, "--nproc", str(nproc),
            "--data", batch_tables(1) if args.workload == "batch_ops" else work,
            "--warm-data", batch_tables(0.02) if args.workload == "batch_ops" else work]
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(work, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark_local"),
               TMPDIR=os.path.join(work, "tmp"))
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    if code != 0 or not os.path.exists(result):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("the run timed out" if code is None else f"the run failed (exit {code})", 4)
    with open(result) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a reflowspark checkout (build.sbt and src/main/scala/graft)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(BENCH, "config.json")) as f:
        config = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")

    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp = build()
        work = os.path.join(WORK, "run")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        r = run_jvm(cp, args, work)
        spans = os.path.join(work, "result.json.spans.json")
        if os.path.exists(spans):
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            keep = os.path.join(WORK, "traces", f"{args.workload}-{args.seed}.json")
            shutil.copyfile(spans, keep)
            print(f"spans: {keep}")
        shutil.copyfile(os.path.join(work, "jvm.log"), os.path.join(WORK, "last_jvm.log"))
        shutil.rmtree(work, ignore_errors=True)

    if args.pin:
        print(json.dumps({k: v for k, v in r["hashes"].items()}, indent=1, sort_keys=True))
        return

    checks = list(r["checks"])
    attempted, failed = r["attempted"], r["failed"]
    pinned = config["pinned_hashes"]
    # every batch run hashes each job's output on the small tables, a traced
    # run also on the full ones
    expected = [k for k in sorted(pinned) if k.startswith("small/") or args.trace] \
        if args.workload == "batch_ops" else []
    for name in expected:
        got = r["hashes"].get(name)
        ok = got == pinned[name]
        checks.append({"name": f"{name} rows+hash == pinned", "ok": ok,
                       "detail": f"{got[0]} rows" if ok else f"got {got}, pinned {pinned[name]}"})
        attempted += 1
        failed += 0 if ok else 1

    for k, v in r["named"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    for c in checks:
        print(f"check {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    kind = "per_layer" if args.trace else "end_to_end"
    source = r["layers"] if args.trace else r["e2e"]
    metrics = {}
    for m in spec[kind]:
        v = source.get(m["name"])
        metrics[m["name"]] = {"value": float(v) if v is not None else 0.0, "unit": m["unit"]}
    correct = failed == 0 and all(c["ok"] for c in checks)
    print(json.dumps({"correct": correct, "attempted": max(1, int(attempted)),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
