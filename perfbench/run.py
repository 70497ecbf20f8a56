#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print one JSON result line.

Usage (from the repository root):
  python3 perfbench/run.py --workload cdc_sync --seed 1 --seconds 15 --trace 0

Workloads: cdc_sync, analytics_sf01 (see perfbench/README.md). With --trace 0
the result holds every end_to_end metric of BENCHMARK.json, with --trace 1
every per_layer one; a layer the workload does not run reads 0.

The engine and the benchmark are compiled offline by perfbench/build.sbt (which
builds the engine through the repository's own build.sbt) on the first run, or
when a source file changed; later runs start the JVM directly with the
classpath and the engine build's JVM options the build recorded. All scratch
files live in a temporary directory under the checkout that is removed at exit.
The last line of stdout is the result; a failed correctness check exits 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.fingerprint")
WORKLOADS = ("cdc_sync", "analytics_sf01")
RUN_BUDGET_S = 170          # a run must end within 180 s
BUILD_BUDGET_S = 840        # the first run in a checkout may take 900 s
JVM_HEAP = "4g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the engine's and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(fp):
    """Compile offline with sbt and record the launch classpath and options."""
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.server.autostart=false",
                 f"-Dsbt.global.base={os.path.join(TARGET, 'sbt-global')}"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    log("building engine + benchmark with sbt (offline)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_BUDGET_S)
    if p.returncode != 0 or not os.path.isfile(LAUNCH):
        raise SystemExit(f"[perfbench] build failed (exit {p.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(fp)
    log(f"build done in {time.time() - t0:.0f} s")


def launch_spec():
    cp, opts = None, []
    with open(LAUNCH) as fh:
        for line in fh.read().splitlines():
            if line.startswith("CLASSPATH="):
                cp = line[len("CLASSPATH="):]
            elif line.startswith("OPT="):
                opts.append(line[len("OPT="):])
    return cp, opts


def fixture_dir():
    """The read-only sf0.1 fixtures: $PERFBENCH_SF_DIR, else the sf 0.1 row of
    the repository's TESTDATA.md."""
    if os.environ.get("PERFBENCH_SF_DIR"):
        return os.environ["PERFBENCH_SF_DIR"]
    with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
        for line in fh:
            cells = [c.strip().strip("`") for c in line.split("|")]
            if len(cells) > 2 and cells[1] == "0.1":
                return cells[2].rstrip("/")
    raise SystemExit("[perfbench] no sf0.1 fixture directory (set PERFBENCH_SF_DIR)")


def run_jvm(args, scratch, deadline):
    cp, opts = launch_spec()
    result_file = os.path.join(scratch, "result.json")
    cmd = (["java"] + opts + [
        f"-Xmx{JVM_HEAP}", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={scratch}",
        f"-Dderby.system.home={scratch}",
        f"-Dderby.stream.error.file={os.path.join(scratch, 'derby.log')}",
        "-cp", cp, "perfbench.Main",
        args.workload, str(args.seed), str(args.seconds), str(args.trace), scratch, result_file])
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    if args.workload == "analytics_sf01":
        env["PERFBENCH_SF_DIR"] = fixture_dir()
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit("[perfbench] run timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if not os.path.isfile(result_file):
        raise SystemExit(f"[perfbench] the JVM wrote no result (exit {proc.returncode})")
    with open(result_file) as fh:
        return json.load(fh)


def complete_metrics(res, kind):
    """Hold the result to BENCHMARK.json's metric list: every end-to-end
    metric must be measured; a per-layer metric of a layer this workload
    does not run is reported as 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)[kind]}
    got = res["metrics"]
    for name in sorted(set(got) - set(declared)):
        res.setdefault("problems", []).append(f"metric {name} is not declared in BENCHMARK.json")
    for name, unit in declared.items():
        if name not in got:
            if kind == "end_to_end":
                res.setdefault("problems", []).append(f"metric {name} was not measured")
            else:
                got[name] = {"value": 0, "unit": unit}
    res["metrics"] = {name: got[name] for name in declared if name in got}
    res["correct"] = res["correct"] and not res.get("problems")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("[perfbench] the engine's sources (build.sbt, src/main/scala) are not here")
    fp = fingerprint()
    log(f"code fingerprint {fp[:12]}")
    if not (os.path.isfile(LAUNCH) and os.path.isfile(STAMP) and open(STAMP).read() == fp):
        build(fp)

    deadline = time.time() + RUN_BUDGET_S
    scratch_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch_root, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=scratch_root)
    try:
        res = run_jvm(args, scratch, deadline)
        if args.workload == "analytics_sf01" and res.get("correct"):
            sys.path.insert(0, HERE)
            sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
            import oracle
            res["problems"] = res.get("problems", []) + oracle.check(scratch)
            res["correct"] = not res["problems"]
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(scratch_root)
        except OSError:
            pass
    complete_metrics(res, "per_layer" if args.trace else "end_to_end")
    for p in res.get("problems", []):
        log(f"check failed: {p}")
    out = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(out), flush=True)
    sys.exit(0 if out["correct"] and out["attempted"] >= 1 else 1)


if __name__ == "__main__":
    main()
