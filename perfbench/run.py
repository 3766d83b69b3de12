#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first call builds what the
benchmark needs under .bench_build/ (or $CARGO_TARGET_DIR), outside
every metric, and later calls reuse it:
  * the graft sources and this harness, compiled once with offline sbt;
    the harness then runs from that fixed classpath with the JVM options
    graft's build.sbt declares, so sbt start-up stays out of set-up time;
  * the input tables: gen_data.py at sf0.01 ("small"), and
    graft.sources.ScaleUp x10 of it ("x10"), with every table's row
    count checked (fact tables x10, region and nation x1).

The seed fixes the order in which items run; the tables are the same for
every seed. Prints a report line per end-to-end metric, the run's
metadata, and as the last line one JSON object with `correct`,
`attempted`, `failed` and `metrics` (the end_to_end metrics of
BENCHMARK.json, or with --trace 1 its per_layer metrics).
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

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# graft's build.sbt takes the driver heap from SPARK_DRIVER_MEM (32g when
# unset). The benchmark builds with 3g: its largest input is 6e5
# lineitem rows, its peak heap after a full GC measured 90-130 MB, and a
# host shared with other jobs should not see a 32g heap grow lazily.
DRIVER_MEM = "3g"
JVM_TIMEOUT_S = 170
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_logged(cmd, log, timeout, cwd=ROOT, env=None):
    """Run cmd with its output appended to log; returns its exit code.
    The child is killed and waited for on a timeout or any exception."""
    with open(log, "ab") as f:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=f, stderr=subprocess.STDOUT, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"timed out after {timeout}s: {' '.join(cmd[:3])} … (log: {log})")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def source_stamp():
    h = hashlib.sha256(DRIVER_MEM.encode())
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
              os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [p for p in glob.glob(os.path.join(d, "**", "*"), recursive=True)
                  if os.path.isfile(p) and "/target/" not in p]
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=DRIVER_MEM)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(work):
    """Compile graft and the harness once; returns (classpath, jvm options
    of graft's build.sbt, its heap set through SPARK_DRIVER_MEM)."""
    launch = os.path.join(work, "launch.txt")
    stamp_file = os.path.join(work, "build.stamp")
    stamp = source_stamp()
    if os.path.isfile(launch) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        lines = open(launch).read().splitlines()
        if all(os.path.exists(p) for p in lines[0].split(os.pathsep)):
            return lines[0], lines[1:]
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log = os.path.join(work, "build.log")
    code = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       f"-Dperfbench.launch={launch}", "benchLaunch"],
                      log, 840, cwd=HERE, env=sbt_env())
    if code != 0 or not os.path.isfile(launch):
        fail(f"build failed (log: {log})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def jvm_cmd(work, cp, opts, main, args):
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return ["java", *opts, f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-cp", cp, main, *args]


def table_rows(path):
    files = [path] if os.path.isfile(path) else sorted(glob.glob(os.path.join(path, "*.parquet")))
    return sum(pq.read_metadata(f).num_rows for f in files)


def inputs(work, cp, opts):
    """Generate the small tables and their ScaleUp x10 copy once."""
    data = os.path.join(work, "data")
    small, x10 = os.path.join(data, "small"), os.path.join(data, "x10")
    os.makedirs(data, exist_ok=True)
    log = os.path.join(work, "inputs.log")
    if not os.path.isdir(small):
        if run_logged([sys.executable, os.path.join(HERE, "gen_data.py"), "0.01", small],
                      log, 300) != 0:
            fail(f"input generation failed (log: {log})")
    if not os.path.isfile(os.path.join(x10, "_CHECKED")):
        shutil.rmtree(x10, ignore_errors=True)
        cmd = jvm_cmd(work, cp, opts, "graft.sources.ScaleUp", [small, x10, "10"])
        if run_logged(cmd, log, 600, env=dict(os.environ, SPARK_GRAFT_CPUS="4")) != 0:
            fail(f"ScaleUp failed (log: {log})")
        for t in TABLES:
            want = table_rows(os.path.join(small, t + ".parquet")) * (
                1 if t in ("region", "nation") else 10)
            got = table_rows(os.path.join(x10, t + ".parquet"))
            if got != want:
                fail(f"ScaleUp {t}: {got} rows, expected {want}")
        open(os.path.join(x10, "_CHECKED"), "w").close()
    return {"small": small, "x10": x10}


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (Linux /proc/stat); None where that is not available."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mode", choices=("bench", "dump"), default="bench")
    a = ap.parse_args()
    # a terminated run still stops its child processes (run_logged's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) \
            or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no graft sources here: run from the root of a graft checkout")
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    if a.workload not in spec:
        fail(f"unknown workload {a.workload}; one of {', '.join(spec)}")
    bench = json.load(open(bench_json))

    work = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(work, exist_ok=True)
    cp, opts = build(work)
    data = inputs(work, cp, opts)[spec[a.workload]["data"]]

    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    out = os.path.join(work, "result.json")
    if os.path.exists(out):
        os.remove(out)
    log = os.path.join(work, f"run-{a.workload}.log")
    open(log, "w").close()
    cmd = jvm_cmd(work, cp, opts, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--spec", os.path.join(HERE, "workloads.json"),
        "--expected", os.path.join(HERE, "expected", a.workload + ".json"),
        "--work", run_dir, "--out", out, "--t0-ms", str(int(time.time() * 1000)),
        "--mode", a.mode])
    steal0 = steal_s()
    if run_logged(cmd, log, JVM_TIMEOUT_S) != 0:
        fail(f"harness failed (log: {log})")
    steal1 = steal_s()
    if a.mode == "dump":
        return
    res = json.load(open(out))

    e2e = res["end_to_end"]
    run = res["run"]
    if steal0 is not None and steal1 is not None:
        run["host_steal_s"] = round(steal1 - steal0, 2)
    for k, m in e2e.items():
        print(f"{a.workload} {k} = {m['value']:.6g} {m['unit']}")
    print(f"{a.workload} check: {'pass' if res['correct'] else 'FAIL'} "
          f"({res['failed']} failed of {res['attempted']} attempted)")
    for k, v in list(res["mismatches"].items()) + list(res["errors"].items()):
        print(f"{a.workload}   {k}: {v[:300]}")
    print(f"{a.workload} run: " + json.dumps(run))
    if a.trace:
        slow = [c for c in res["count_vs_noop"]
                if c["noop_s"] > 2 * c["count_s"] or c["count_s"] > 2 * c["noop_s"]]
        print(f"{a.workload} count() vs noop differ >2x: " +
              ", ".join(f"{c['query']} noop={c['noop_s']:.3f}s count={c['count_s']:.3f}s"
                        for c in slow))
        layer = res["per_layer"]
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]]["value"], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
