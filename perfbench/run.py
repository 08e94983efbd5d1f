#!/usr/bin/env python3
"""graft's benchmark: run one workload in a fresh single-process driver JVM.

    python3 perfbench/run.py --workload explore --seed 1 --seconds 12 --trace 0

Run it from the root of the repository. The first run builds the library and
the driver program (`perfbench/build.sbt`) with sbt; later runs reuse the
build in `.bench_build/` while the sources are unchanged.

The seed fixes the order of the queries in each pass; the program receives
only the data directory and that ordered list. Each run gets a private
in-memory /tmp and a private loopback-only network (`unshare`), so the file
fixtures and the Postgres server the program starts on first use begin from
nothing in every run and are removed after it.

Prints one `name value unit` line per metric, then one JSON line:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.
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

import metrics
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.expanduser("~/testdata/sf0.01")
# a fixed heap and young generation: with a growable heap, the high-water
# RSS follows G1's resizing decisions and spread by half between runs
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
JVM_TIMEOUT_S = 150
MAX_PASSES = 64
# what sbt needs to build offline from the image's caches
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories")
            + " -Dsbt.offline=true -Xmx2g")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the library and the driver; return the runtime classpath and
    the JVM options (the library's, from `perfbench/build.sbt`)."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    launch_file = os.path.join(BUILD, "launch.json")
    if os.path.exists(launch_file):
        with open(launch_file) as f:
            launch = json.load(f)
        if launch["stamp"] == stamp:
            return launch["classpath"], launch["jvm_options"]
    os.makedirs(BUILD, exist_ok=True)
    # -XX:-UsePerfData: sbt's JVMs would leave /tmp/hsperfdata_<user>
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS,
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "print javaOptions", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        die("build failed")
    # `print` lists a Seq one "* item" line each, right before the classpath
    opts = []
    for line in reversed(lines[:-1]):
        if not line.startswith("* "):
            break
        opts.insert(0, line[2:].strip())
    launch = {"stamp": stamp, "classpath": lines[-1].strip(), "jvm_options": opts}
    with open(launch_file, "w") as f:
        json.dump(launch, f)
    return launch["classpath"], launch["jvm_options"]


# Runs the driver (its arguments) in fresh mount, network, IPC and PID
# namespaces: a loopback of its own, and /tmp and /dev/shm on private tmpfs,
# so that disk latency does not enter the figures and nothing the run writes
# there outlives it. After the driver exits it stops the Postgres server the
# driver may have started (fast shutdown, then kill) and waits until it has
# exited; a zombie counts as exited, since this shell, the namespace's init,
# does not reap it. When the shell ends, even when killed, the kernel ends
# and reaps every process left in the namespace.
NAMESPACE_SCRIPT = r"""
ip link set lo up || exit 1
for d in /tmp /dev/shm; do mount -t tmpfs -o mode=1777,size=2g tmpfs $d || exit 1; done
mkdir /tmp/jvm && cd /tmp || exit 1
"$@"
rc=$?
pid=$(head -n 1 /tmp/graft_pgdata/postmaster.pid 2>/dev/null)
alive() { grep -qs '^State:[[:space:]]*[^Z[:space:]]' /proc/$pid/status; }
if [ -n "$pid" ]; then
  for sig in INT KILL; do
    kill -$sig "$pid" 2>/dev/null
    i=0
    while alive && [ $i -lt 200 ]; do sleep 0.05; i=$((i + 1)); done
  done
fi
exit $rc
"""


def run_jvm(cp, jvm_opts, run_dir, plan_file, seconds, trace, example):
    """Run the driver in private namespaces (NAMESPACE_SCRIPT). Returns the
    launch time."""
    out = os.path.join(run_dir, "out")
    os.makedirs(out)
    cpus = len(os.sched_getaffinity(0))
    java = ["java", *HEAP, *jvm_opts, "-Djava.io.tmpdir=/tmp/jvm",
            "-cp", cp, "perfbench.Harness",
            "--data", DATA, "--plan", plan_file, "--out", out,
            "--seconds", str(seconds), "--trace", str(trace),
            "--example", "1" if example else "0", "--cpus", str(cpus)]
    cmd = ["unshare", "--mount", "--net", "--ipc", "--pid", "--fork",
           "--mount-proc", "--propagation", "private",
           "sh", "-c", NAMESPACE_SCRIPT, "sh", *java]
    log_path = os.path.join(run_dir, "jvm.log")
    launched = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"driver JVM failed ({rc})")
    return launched


def key_cols(cols):
    return sorted(c.lower() for c in cols)


def oracle_check(run, out_dir):
    """Compare each query's full output (the check pass) with its DuckDB
    oracle on the same tables, the way tools/check.py does; check example
    results for schema and row count. Returns the indexes of bad ops."""
    import duckdb
    from check import TABLES, table_key

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    oracle = {}  # query -> (columns, row count) or None when red
    for q, sql in sorted(run["oracle"].items()):
        path = os.path.join(out_dir, "check", q)
        why = run["check_errors"].get(q)
        if why is None and sql is None:
            why = "no oracle"
        if why is None:
            try:
                got = con.execute(
                    f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchall()
                got_cols = [d[0] for d in con.description]
                want = con.execute(sql).fetchall()
                want_cols = [d[0] for d in con.description]
                if key_cols(got_cols) != key_cols(want_cols):
                    why = f"schema {sorted(got_cols)} != {sorted(want_cols)}"
                else:
                    lower = [c.lower() for c in got_cols]
                    idx = [lower.index(w.lower()) for w in want_cols]
                    got = [tuple(r[i] for i in idx) for r in got]
                    if len(got) != len(want):
                        why = f"rows {len(got)} != {len(want)}"
                    elif table_key(got) != table_key(want):
                        why = "value mismatch"
            except Exception as e:  # an oracle that cannot run is a failure
                why = str(e)[:300]
        if why:
            print(f"perfbench: {q} does not match its oracle: {why}", file=sys.stderr)
            oracle[q] = None
        else:
            oracle[q] = (key_cols(want_cols), len(want))
    bad = set()
    for i, o in enumerate(run["ops"]):
        want = oracle[o["query"]]
        if o["error"] or want is None:
            bad.add(i)
        elif o["mode"] == "example" and (
                key_cols(o["cols"]) != want[0] or
                o["rows"] != min(metrics.EXAMPLE_ROWS, want[1])):
            print(f"perfbench: {o['query']} example: {len(o['cols'])} columns, "
                  f"{o['rows']} rows", file=sys.stderr)
            bad.add(i)
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for f in ("BENCHMARK.json", "build.sbt", "src/main/scala/graft/SparkEntry.scala",
              "tools/check.py"):
        if not os.path.exists(os.path.join(ROOT, f)):
            die(f"{f} not found: run from the root of a graft checkout")
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import TABLES
    for t in TABLES:
        if not os.path.exists(os.path.join(DATA, f"{t}.parquet")):
            die(f"test data missing: {DATA}/{t}.parquet")
    for tool in ("sbt", "java", "unshare", "ip"):
        if shutil.which(tool) is None:
            die(f"{tool} not found")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    wl = WORKLOADS[args.workload]
    cp, jvm_opts = build()
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        plan_file = os.path.join(run_dir, "plan.txt")
        with open(plan_file, "w") as f:
            for order in metrics.pass_orders(wl["queries"], args.seed, MAX_PASSES + 1):
                f.write(",".join(order) + "\n")
        launched = run_jvm(
            cp, jvm_opts, run_dir, plan_file, args.seconds, args.trace, wl["example"])
        out_dir = os.path.join(run_dir, "out")
        with open(os.path.join(out_dir, "run.json")) as f:
            run = json.load(f)
        bad = oracle_check(run, out_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        values = metrics.per_layer(run)
    else:
        values = metrics.end_to_end(run, run["setup_end"] - launched, bad)
    if set(values) != set(units):
        die(f"metrics {sorted(values)} differ from BENCHMARK.json {sorted(units)}")
    for k, v in values.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": not bad,
        "attempted": len(run["ops"]),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))


if __name__ == "__main__":
    main()
