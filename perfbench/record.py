#!/usr/bin/env python3
"""Record the result digests the batch workloads are checked against.

    python3 perfbench/record.py

Run from the root of a checkout whose query results are known good. Runs
every batch query once on the benchmark's tables, cross-checks each result
that has an oracle SQL string against DuckDB (tools/localcheck.py), and
writes perfbench/digests.json. A query whose result disagrees with its
oracle is not recorded, so the benchmark counts it as failed.
"""
import contextlib
import io
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    root = os.getcwd()
    sys.path.insert(0, os.path.join(root, "tools"))
    import localcheck
    cache = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(cache, exist_ok=True)
    cp = run.build(root, cache)
    data = run.ensure_data(cache)
    work = os.path.join(cache, "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "results")
    cores = len(os.sched_getaffinity(0))
    run.jvm(cp, work, ["--record", out, "--data", data, "--scratch", os.path.join(work, "scratch"),
                       "--cores", str(cores), "--config", os.path.join(HERE, "workloads.json"),
                       "--out", os.path.join(work, "raw.json")], timeout=1800)
    raw = json.load(open(os.path.join(work, "raw.json")))
    # localcheck prints PASS/FAIL per query; collect the failing names
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        localcheck.main(data, out)
    report = buf.getvalue().splitlines()
    failed = {ln.split()[1].rstrip(":") for ln in report if ln.startswith("FAIL")}
    checked = {ln.split()[1].rstrip(":") for ln in report if ln.startswith("PASS")}
    digests = {n: d for n, d in sorted(raw["digests"].items()) if n not in failed}
    json.dump({"cores": cores, "oracle_checked": sorted(checked), "oracle_failed": sorted(failed),
               "digests": digests}, open(os.path.join(HERE, "digests.json"), "w"), indent=1)
    print("\n".join(ln for ln in report if ln.startswith("FAIL")) or "no oracle disagreements")
    print(report[-1])
    print(f"recorded {len(digests)} digests; {len(checked)} cross-checked against DuckDB, "
          f"{len(failed)} disagreed: {sorted(failed)}")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
