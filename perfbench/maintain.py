#!/usr/bin/env python3
"""Maintenance tasks behind the benchmark's committed inputs and evidence.

    python3 perfbench/maintain.py expected <sfDir>   expected/<sf>.tsv from the DuckDB oracle
    python3 perfbench/maintain.py classify           workloads/{lakehouse,batch}.txt
    python3 perfbench/maintain.py costs              costs.tsv: every query timed in fresh-JVM slices of ~8
    python3 perfbench/maintain.py smoke              sf0.001 run under a comma-decimal locale
    python3 perfbench/maintain.py agree              JVM digests vs tools/compare.py verdicts
    python3 perfbench/maintain.py steady [seeds]     spread of every metric over seeds

Each writes what it finds to perfbench/results/ (or the file named above)
and prints a one-line verdict; a failed check exits non-zero.
"""
import json
import os
import re
import statistics
import subprocess
import sys
import time

import run

RESULTS = os.path.join(run.HERE, "results")


def catalog(cp, flags):
    """Query names, streaming names and oracle SQL, as the program declares them."""
    out = os.path.join(run.WORK, "catalog.json")
    subprocess.run(["java"] + flags + run.local_flags(run.WORK) +
                   ["-cp", cp, "perfbench.Main", "catalog", out],
                   check=True, stdin=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f), out


def save(name, obj):
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, name), "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True)
        f.write("\n")


def expected(sf):
    cp, flags = run.build()
    _, path = catalog(cp, flags)
    out = os.path.join(run.HERE, "expected", os.path.basename(sf.rstrip("/")) + ".tsv")
    subprocess.run([sys.executable, os.path.join(run.HERE, "oracle.py"), sf, path, out],
                   check=True)
    print(f"wrote {out}")


def classify():
    """A traced pass over every non-streaming query; the lakehouse workload is
    the queries during which a graftmem write command executed."""
    cp, flags = run.build()
    cat, _ = catalog(cp, flags)
    streaming = set(cat["streaming"])
    names = [n for n in cat["queries"] if n not in streaming]
    r = run.run_jvm("classify", names, 0, 1, run.corpus("0.1"), cp, flags, 3600,
                    "classify", lists=False)
    per_query = r["per_layer"]["trace.per_query"]
    lake = sorted(n for n in names
                  if per_query.get(n, {}).get("sources.graftmem.commands", 0) > 0)
    batch = sorted(set(names) - set(lake))
    for w, members in (("lakehouse", lake), ("batch", batch)):
        path = os.path.join(run.HERE, "workloads", f"{w}.txt")
        with open(path) as f:
            header = [l for l in f if l.startswith("#")]
        with open(path, "w") as f:
            f.writelines(header)
            f.write("\n".join(members) + "\n")
    print(f"lakehouse {len(lake)}, batch {len(batch)}, streaming {len(streaming)}")


def costs(per_run=8):
    """Reference cost of every query as a benchmark run sees it: in a fresh JVM,
    right after set-up, among a few others. Each workload is dealt into
    slices of about `per_run` queries (by the current costs), every slice
    runs once, and each query's build + drain time is recorded."""
    cp, flags = run.build()
    old = run.read_costs()
    lat = {}
    for w in run.WORKLOADS:
        members = run.read_list(os.path.join(run.HERE, "workloads", f"{w}.txt"))
        k = max(1, round(len(members) / per_run))
        for j, names in enumerate(run.deal(members, old, k)):
            r = run.run_jvm(w, names, 0, 0, run.corpus("0.1"), cp, flags, 600,
                            f"costs-{w}-{j}of{k}")
            for q in r["queries"]:
                lat[q["name"]] = q["latency_s"]
            print(f"{w} {j + 1}/{k}: wall {r['end_to_end']['wall_s']:.2f} s", file=sys.stderr)
    with open(os.path.join(run.HERE, "costs.tsv"), "w") as f:
        f.write(f"# name<TAB>seconds: build + drain of each query at sf0.1 on 4 cores, timed in\n"
                f"# a fresh JVM after set-up, among about {per_run} queries of its workload\n"
                f"# (`python3 perfbench/maintain.py costs`). Used only to size and deal slices.\n")
        f.writelines(f"{n}\t{lat[n]:.3f}\n" for n in sorted(lat))
    print(f"costs for {len(lat)} queries")


def smoke():
    """Runs every query at sf0.001, traced and untraced, in a JVM whose
    default locale writes decimal commas, and checks that every named metric
    parses as a finite number and every output matches the oracle."""
    cp, flags = run.build()
    names = [n for w in run.WORKLOADS
             for n in run.read_list(os.path.join(run.HERE, "workloads", f"{w}.txt"))]
    flags = flags + ["-Duser.language=de", "-Duser.country=DE", "-Duser.region=DE"]
    sf = run.corpus("0.001")
    report = {}
    ok = True
    for trace in (0, 1):
        r = run.run_jvm("smoke", names, 0, trace, sf, cp, flags, 1800, f"smoke-trace{trace}")
        metrics = run.metrics_of(r, trace)
        bad = [k for k, m in metrics.items()
               if not isinstance(m["value"], (int, float)) or m["value"] != m["value"]]
        text = json.dumps({"metrics": metrics})
        reparsed = json.loads(text)["metrics"]
        bad += [k for k in metrics if float(reparsed[k]["value"]) != metrics[k]["value"]]
        ok &= not bad and r["failed"] == 0 and r.get("default_locale") == "de-DE"
        report[f"trace{trace}"] = {"metrics": len(metrics), "unparsable": bad,
                                   "attempted": r["attempted"], "failed": r["failed"],
                                   "default_locale": r.get("default_locale")}
    save("smoke_sf0.001.json", report)
    print(("PASS" if ok else "FAIL") + f" smoke: {report}")
    sys.exit(0 if ok else 1)


def compare_verdicts(sf, out_dir):
    p = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "compare.py"), sf, out_dir],
                       capture_output=True, text=True)
    return {m.group(2): m.group(1) == "PASS"
            for m in re.finditer(r"^(PASS|FAIL) (\S+?):? ", p.stdout, re.M)}


def agree():
    """The JVM digest check and tools/compare.py must give the same verdict on
    every query: on sf0.01 outputs against the sf0.01 oracle (all should
    pass), and on the same outputs against the sf0.1 oracle (a negative
    control: every output whose result depends on scale should fail)."""
    cp, flags = run.build()
    cat, _ = catalog(cp, flags)
    names = cat["queries"]
    sf001, sf01 = run.corpus("0.01"), run.corpus("0.1")
    r = run.run_jvm("agree", names, 0, 0, sf001, cp, flags, 3600, "agree", lists=False)
    got = {q["name"]: (q["rows"], q["digest"]) for q in r["queries"]}
    verify_out = os.path.join(run.WORK, "verify_sf0.01")
    subprocess.run(["java"] + flags + run.local_flags(run.WORK) +
                   ["-cp", cp, "graft.Verify", sf001, verify_out],
                   check=True, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                   stderr=subprocess.DEVNULL)
    report = {}
    ok = True
    for label, oracle_sf in (("sf0.01_vs_sf0.01_oracle", sf001), ("sf0.01_vs_sf0.1_oracle", sf01)):
        exp = {}
        with open(os.path.join(run.HERE, "expected", os.path.basename(oracle_sf) + ".tsv")) as f:
            for line in f:
                n, rows, d = line.rstrip("\n").split("\t")
                exp[n] = (int(rows), d)
        ours = {n: got[n] == exp[n] for n in names}
        theirs = compare_verdicts(oracle_sf, verify_out)
        differ = sorted(n for n in names if ours[n] != theirs.get(n))
        ok &= not differ
        report[label] = {"queries": len(names), "digest_pass": sum(ours.values()),
                         "compare_py_pass": sum(theirs.values()), "disagree": differ}
    save("agreement.json", report)
    print(("PASS" if ok else "FAIL") + f" agreement: {report}")
    sys.exit(0 if ok else 1)


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0, med


def steady(seeds):
    """Runs the benchmark once per seed and workload, as separate processes, then
    reports each end-to-end metric's quartile spread over its median and
    the tracing overhead (traced wall over untraced wall, same seeds)."""
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"seeds": seeds, "run_seconds": bench["run_seconds"], "workloads": {}}
    for w in [x["name"] for x in bench["workloads"]]:
        vals, walls, secs, unattributed = {}, {0: [], 1: []}, [], []
        for seed in seeds:
            for trace in (0, 1) if seed in seeds[:3] else (0,):
                t0 = time.monotonic()
                p = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"),
                                    "--workload", w, "--seed", str(seed), "--seconds",
                                    str(bench["run_seconds"]), "--trace", str(trace)],
                                   capture_output=True, text=True, cwd=run.ROOT)
                if p.returncode != 0:
                    sys.stderr.write(p.stderr[-3000:])
                    sys.exit(f"run failed: {w} seed {seed}")
                line = json.loads(p.stdout.strip().splitlines()[-1])
                m = line["metrics"]
                if trace:
                    walls[1].append(m["operators.build_s"]["value"] + m["operators.action_s"]["value"])
                    unattributed.append(m["trace.unattributed"]["value"])
                    continue
                secs.append(time.monotonic() - t0)
                walls[0].append(m["wall_s"]["value"])
                for k, v in m.items():
                    vals.setdefault(k, []).append(v["value"])
                print(f"{w} seed {seed}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in m.items()),
                      file=sys.stderr)
        rep = {}
        for k, v in vals.items():
            s, med = spread(v)
            rep[k] = {"median": med, "spread": s, "bound": bounds.get(k),
                      "within_third": s <= bounds.get(k, 0) / 3, "values": v}
        traced = statistics.median(walls[1])
        untraced = statistics.median(walls[0][:len(walls[1])])
        report["workloads"][w] = {"metrics": rep, "run_seconds_median": statistics.median(secs),
                                  "traced_unattributed": unattributed,
                                  "tracing_overhead": {"traced_wall_s": walls[1],
                                                       "untraced_wall_s": walls[0][:len(walls[1])],
                                                       "ratio": traced / untraced}}
    name = f"steadiness_seeds{seeds[0]}-{seeds[-1]}.json"
    save(name, report)
    print(json.dumps({w: {k: round(m["spread"], 4) for k, m in r["metrics"].items()}
                      for w, r in report["workloads"].items()}))


def main():
    cmd = sys.argv[1] if len(sys.argv) > 1 else ""
    if cmd == "expected":
        expected(sys.argv[2])
    elif cmd == "classify":
        classify()
    elif cmd == "costs":
        costs()
    elif cmd == "smoke":
        smoke()
    elif cmd == "agree":
        agree()
    elif cmd == "steady":
        a, b = (int(x) for x in (sys.argv[2].split("-") if len(sys.argv) > 2 else ("1", "10")))
        steady(list(range(a, b + 1)))
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
