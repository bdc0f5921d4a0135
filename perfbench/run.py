#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload etl-batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program together
with the harness (sbt, offline) and writes the input tables; both are cached
under .bench_build/ and rebuilt when their sources change. Each run works in
its own scratch directory under .bench_build/ and removes it at the end.

The last line of standard output is the result object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
The line before it lists every reported quantity by name with its unit.
A traced run also writes its spans to .bench_build/perfbench/traces/.
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
sys.path.insert(0, HERE)
import stats  # noqa: E402

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# SPARK_DRIVER_MEM sets the driver heap as in the program's own run
# configuration (root build.sbt, default 8g). The default here is 3g: the
# benchmark shares its host; with 8g a run of fit-heavy qe queries reached
# 5.2 GB resident, while with 3g curation-batch peaks below 4 GB and no
# query fails.
HEAP = os.environ.get("SPARK_DRIVER_MEM", "3g")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, cwd, timeout, log, env=None):
    """Run a command in its own process group; on timeout kill the whole
    group and wait for it. Returns the exit code (None on timeout)."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tree_hash(paths):
    h = hashlib.sha1()
    files = []
    for top in paths:
        if os.path.isfile(top):
            files.append(top)
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(names)]
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, cache):
    """Compile the program and the harness; return the runtime classpath."""
    stamp = tree_hash([os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
                       os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    cp_file = os.path.join(cache, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    # every build writes the same classes directory: forget the others
    for f in os.listdir(cache):
        if f.startswith("classpath-"):
            os.remove(os.path.join(cache, f))
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    log = os.path.join(cache, "build.log")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile",
                    "export Runtime/fullClasspath"], HERE, BUILD_TIMEOUT_S, log, env)
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if "target/scala-2.13/classes" in ln and not ln.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {rc}); see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    return cp[-1]


def ensure_data(cache):
    """The input tables, written once per version of the generator."""
    gen = os.path.join(HERE, "gen_data.py")
    stamp = hashlib.sha1(open(gen, "rb").read()).hexdigest()[:16]
    out = os.path.join(cache, f"data-{stamp}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        subprocess.run([sys.executable, gen, out], check=True, timeout=300)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def jvm(cp, run_dir, args, timeout=JVM_TIMEOUT_S):
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:G1HeapRegionSize=16m",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse", f"-Dspark.local.dir={run_dir}/local",
           f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
           "-cp", cp, "perfbench.Main", *args]
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log = os.path.join(run_dir, "jvm.log")
    rc = run_group(cmd, run_dir, timeout, log)
    if rc != 0:
        sys.stderr.write("\n".join(open(log).read().splitlines()[-60:]) + "\n")
        die(f"benchmark process failed (exit {rc})", 1)


def summarize(raw, conf, trace, digests):
    w = conf["workloads"][raw["workload"]]
    if raw["kind"] == "batch":
        e2e, info = stats.batch_e2e(raw)
        bad = stats.digest_failures(raw["digests"], digests)
        attempted = (len(raw["passes"]) + 1) * len(raw["queries"])
        failed = len(raw["failures"]) + len(bad)
        info.update({"digest_mismatch": bad, "errors": [f["name"] for f in raw["failures"]],
                     "phase_gap_max": round(stats.phase_split(raw), 4)})
        layers = stats.batch_layers(raw) if trace else None
    else:
        e2e, info = stats.stream_e2e(raw, w["tail_limit_ms"])
        late_ms = conf["trigger_ms"] * stats.LATENESS_SHARE
        attempted, failed = stats.stream_failures(raw, late_ms)
        info["rungs"] = {r["name"]: {k: r[k] for k in ("eps", "events", "valid", "outputs", "missing",
                                                        "wrong", "duplicate", "gen_lateness_p99_ms")}
                         for r in raw["rungs"]}
        info["late_rungs"] = stats.late_rungs(raw, late_ms)
        layers = stats.stream_layers(raw, info) if trace else None
    info["fail_frac"] = failed / attempted if attempted else 1.0
    return e2e, info, layers, max(attempted, 1), failed


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] parallelism (default: the CPUs this process may use)")
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")):
        die("no program sources here (src/main/scala/graft); run from the root of a checkout")
    conf = json.load(open(os.path.join(HERE, "workloads.json")))
    if a.workload not in conf["workloads"]:
        die(f"unknown workload {a.workload!r}; have {', '.join(conf['workloads'])}")
    cache = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(cache, exist_ok=True)
    cp = build(root, cache)
    data = ensure_data(cache)
    run_dir = os.path.join(cache, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        raw_file = os.path.join(run_dir, "raw.json")
        jvm(cp, run_dir, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                          "--trace", str(a.trace), "--cores", str(a.cores), "--data", data,
                          "--scratch", os.path.join(run_dir, "scratch"),
                          "--config", os.path.join(HERE, "workloads.json"), "--out", raw_file])
        raw = json.load(open(raw_file))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    digests = json.load(open(os.path.join(HERE, "digests.json")))["digests"]
    e2e, info, layers, attempted, failed = summarize(raw, conf, a.trace, digests)
    if a.trace:
        tdir = os.path.join(cache, "traces")
        os.makedirs(tdir, exist_ok=True)
        tfile = os.path.join(tdir, f"{a.workload}-seed{a.seed}-{int(time.time())}.json")
        with open(tfile, "w") as fh:
            json.dump({"workload": a.workload, "seed": a.seed, "end_to_end": e2e, "info": info,
                       "per_layer": layers, "self_time_s": stats.self_times(raw["spans"]),
                       "spans": raw["spans"], "jobs": raw["jobs"]}, fh)
        info["trace_file"] = os.path.relpath(tfile, root)
    units = {**stats.END_TO_END, **stats.PER_LAYER}
    shown = {**e2e, **(layers or {})}
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "reported": {k: [round(v, 6) if isinstance(v, float) else v, units[k]]
                                   for k, v in shown.items()}, "info": info}))
    metrics = stats.metric_block(layers, stats.PER_LAYER) if a.trace else stats.metric_block(e2e, stats.END_TO_END)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
