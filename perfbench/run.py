#!/usr/bin/env python3
"""graft benchmark: build, then time one slice of a workload in one JVM.

    python3 perfbench/run.py --workload {batch,lakehouse,streaming} --seed N --seconds S --trace {0,1}
    python3 perfbench/run.py --workload all --full [--trace 1]

Each run builds the program from source on first use (the repository's
own sbt build, through perfbench/harness), starts one JVM with the
program's JVM flags and graft.Bench's Spark confs, sets up once, and runs
one closed-loop pass: for each query, the call into
`SparkEntry.queries(name)(spark, sfDir)` (build), then one drain that
materializes every output column and returns its row count and digest.
Every output is checked against the DuckDB oracle's digest in
perfbench/expected/.

A full pass over a workload takes 40-200 s in a fresh JVM, more than one
run may take, so a run times one slice of it: the workload, sorted by
reference cost (perfbench/costs.tsv), is dealt round-robin into
k = ceil(total cost / S) slices, each a stratified sample of the workload's
costs, and the run measures the middle one, in name order. `--full` runs
every query of the workload in one pass, in an order the seed permutes.

The last stdout line is one JSON object: correct, attempted, failed and the
end-to-end metrics (or, with --trace 1, the per-layer metrics). The full
record of a run, with per-query results and spans, is written to
perfbench/.work/runs/.
"""
import argparse
import hashlib
import json
import math
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
# The workloads; their lists in workloads/ partition SparkEntry.queries.
WORKLOADS = ("batch", "lakehouse", "streaming")
# The program's sources and build; the benchmark refuses to run without them.
PROGRAM_FILES = ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "TESTDATA.md")

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_p90_s": "s", "ok_ratio": "1",
}


def die(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def unit_of(name):
    if "bytes" in name:
        return "bytes"
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"), ("_ratio", "1"),
                         ("_row", "1")):
        if name.endswith(suffix):
            return unit
    return "count"


def corpus(scale):
    """The corpus directory for a scale factor, as TESTDATA.md names it."""
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        for m in re.finditer(r"^\| *([0-9.]+) *\| *`([^`]+)`", f.read(), re.M):
            if m.group(1) == scale:
                return m.group(2).rstrip("/")
    die(f"TESTDATA.md names no sf{scale} corpus", 2)


def read_list(path):
    """Names in a list file; '#' starts a comment."""
    with open(path) as f:
        return [l.split("#", 1)[0].strip() for l in f if l.split("#", 1)[0].strip()]


def inputs_hash():
    """Hash of everything the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src"), os.path.join(ROOT, "project"),
            os.path.join(HARNESS, "src"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for top in tops:
        for d, dirs, fs in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for p in files:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles program and harness once per source state; returns (cp, jvm flags)."""
    os.makedirs(WORK, exist_ok=True)
    stamp_path = os.path.join(WORK, "build.stamp")
    launch = os.path.join(HARNESS, "target", "launch.txt")
    stamp = inputs_hash()
    if not (os.path.exists(stamp_path) and open(stamp_path).read() == stamp
            and os.path.exists(launch)):
        env = {k: v for k, v in os.environ.items()
               if k not in ("SPARK_DRIVER_MEM", "SPARK_GRAFT_TMP", "SPARK_GRAFT_CONF")}
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
        env["SBT_OPTS"] += f" -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
        os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as out:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                               cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=850)
        if p.returncode != 0:
            sys.stderr.write(open(log).read()[-4000:])
            die(f"build failed (exit {p.returncode}); log: {log}", 4)
        with open(stamp_path, "w") as f:
            f.write(stamp)
    with open(launch) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


def read_costs():
    costs = {}
    with open(os.path.join(HERE, "costs.tsv")) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                n, c = line.split("\t")[:2]
                costs[n] = float(c)
    return costs


def deal(members, costs, k):
    """Deals members, costliest first, round-robin into k strata samples:
    each slice holds one query from every band of k adjacent costs."""
    ranked = sorted(members, key=lambda m: (-costs.get(m, 0.0), m))
    return [ranked[j::k] for j in range(k)]


def choose(workload, seed, seconds, full):
    """The run's queries in run order, the number of slices and the slice.

    A slice run measures the middle slice, in name order, whatever the
    seed. A short run starts in a cold JVM, and each query's latency depends
    on how far JIT compilation has got when it starts (up to 2x between
    first and last place); slices also differ from the reference costs they
    were dealt by. Permuting a slice by seed, or picking the slice by seed,
    gave p50 and p90 quartile spreads of 0.23-0.47 of their median across
    seeds. A --full run is long enough to average that out, and there the
    seed permutes the order, so a gain that depends on a neighbour warming
    a memo shows up as seed dependence."""
    members = read_list(os.path.join(HERE, "workloads", f"{workload}.txt"))
    if full:
        names = sorted(members)
        random.Random(seed).shuffle(names)
        return names, 1, 0
    costs = read_costs()
    k = max(1, math.ceil(sum(costs.get(m, 0.0) for m in members) / seconds))
    return sorted(deal(members, costs, k)[k // 2]), k, k // 2


def local_flags(d):
    """The only JVM flags added to the program's own: they keep every file
    the JVM writes (graft's scratch sinks, Spark's local dirs, the JVM's
    perf-data file) inside the checkout."""
    return [f"-Dgraft.tmp.dir={os.path.join(d, 'qtmp')}",
            f"-Djava.io.tmpdir={os.path.join(d, 'tmp')}", "-XX:-UsePerfData"]


def run_jvm(workload, names, seed, trace, sf, cp, flags, timeout, tag, lists=True):
    """Runs one measured pass in a fresh JVM; returns its result record,
    also kept as perfbench/.work/runs/<tag>.json."""
    run_dir = os.path.join(WORK, "run-" + tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(os.path.join(run_dir, "names.txt"), "w") as f:
        f.write("\n".join(names) + "\n")
    expected = os.path.join(HERE, "expected", os.path.basename(sf.rstrip("/")) + ".tsv")
    out = os.path.join(run_dir, "result.json")
    args = [f"sf={sf}", "names=names.txt", f"trace={trace}", f"out={out}",
            f"workload={workload}"]
    if lists:
        args.append(f"lists={os.path.join(HERE, 'workloads')}")
    if os.path.exists(expected):
        args.append(f"expected={expected}")
    cmd = ["java"] + flags + local_flags(run_dir) + ["-cp", cp, "perfbench.Main", "run"] + args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    with open(log, errors="replace") as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    if code != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}; log: {log}", 5)
    with open(out) as f:
        result = json.load(f)
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    shutil.move(out, os.path.join(WORK, "runs", tag + ".json"))
    shutil.rmtree(run_dir, ignore_errors=True)
    return result


def metrics_of(result, trace):
    if trace:
        src = {k: v for k, v in result["per_layer"].items() if not isinstance(v, dict)}
        return {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(src.items())}
    return {k: {"value": result["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}


def summary(workload, result, k, s):
    e = result["end_to_end"]
    bad = [q["name"] for q in result["queries"] if q["failed"]]
    print(f"[perfbench] {workload}: slice {s + 1}/{k}, {result['attempted']} queries, "
          f"{result['failed']} failed{': ' + ', '.join(bad) if bad else ''}; "
          f"wall {e['wall_s']:.3f} s, p50 {e['query_p50_s']:.3f} s, "
          f"p90 {e['query_p90_s']:.3f} s over {result['samples']} samples", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", help="corpus directory (default: TESTDATA.md's sf0.1)")
    ap.add_argument("--full", action="store_true", help="run every query of the workload")
    a = ap.parse_args()
    start = time.monotonic()

    missing = [p for p in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        die(f"program sources not found next to the benchmark: {', '.join(missing)}", 2)
    a.sf = a.sf or corpus("0.1")
    if not os.path.isfile(os.path.join(a.sf, "lineitem.parquet")):
        die(f"corpus not found: {a.sf}", 2)
    if a.workload == "all" and not a.full:
        die("--workload all needs --full", 2)
    if a.seconds <= 0:
        die("--seconds must be positive", 2)

    cp, flags = build()
    results = {}
    for w in WORKLOADS if a.workload == "all" else (a.workload,):
        names, k, s = choose(w, a.seed, a.seconds, a.full)
        timeout = 3600 if a.full else max(30.0, 175 - (time.monotonic() - start))
        tag = f"{w}-{'full' if a.full else f'slice{s}of{k}'}-seed{a.seed}-trace{a.trace}"
        results[w] = r = run_jvm(w, names, a.seed, a.trace, a.sf, cp, flags, timeout, tag)
        summary(w, r, k, s)

    metrics = {}
    for w, r in results.items():
        for name, m in metrics_of(r, a.trace).items():
            metrics[name if len(results) == 1 else f"{w}.{name}"] = m
    failed = sum(r["failed"] for r in results.values())
    print(json.dumps({
        "correct": failed == 0 and all(q["checked"] for r in results.values()
                                       for q in r["queries"]),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
