#!/usr/bin/env python3
"""Paired parent/change runs, and the run-to-run spread of one tree.

    # alternating pairs: checkout A is the parent, B the change
    python3 perfbench/paired.py --parent A --change B [--workload W] [--pairs 10]
    # spread of one tree over several seeds
    python3 perfbench/paired.py --change B --spread [--workload W] [--pairs 10]

Each run is `python3 perfbench/run.py` inside the named checkout, with
the run length of its BENCHMARK.json and a fresh seed per pair; both
sides of a pair get the same seed, and which side runs first alternates.
Both checkouts must carry byte-identical benchmark directories and
BENCHMARK.json (a change that claims a gain may not edit the benchmark,
its bounds or its run length), and every run must
report the same box spec (nproc, MemTotal, heap, JDK, Spark): results
from different boxes are never compared.

Per workload and end-to-end metric it reports each side's median and
quartiles and the change's wins, and a verdict:
  gain          the change wins at least 9 of 10 pairs (ties count for
                neither) and the medians differ by more than the
                parent's quartile spread;
  regression    the change's median is worse than the parent's by more
                than the metric's bound;
  unresolved    the parent's spread exceeds the bound, unless every
                change run beats every parent run;
  no regression otherwise.
Spread mode reports each metric's quartile spread as a share of its
median, against its bound.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import tempfile


def load_bench(tree):
    with open(os.path.join(tree, "BENCHMARK.json")) as f:
        return json.load(f)


def bench_digest(tree, bench):
    """sha256 over BENCHMARK.json and every file under the benchmark's
    paths (names and bytes), leaving out what building and running
    leave behind there (__pycache__, sbt's target and project/project)."""
    files = ["BENCHMARK.json"]
    for p in bench["paths"]:
        for d, dirs, fs in os.walk(os.path.join(tree, p)):
            dirs[:] = [x for x in dirs if x not in ("__pycache__", "target", ".bsp")
                       and not (x == "project" and os.path.basename(d) == "project")]
            files += [os.path.relpath(os.path.join(d, f), tree) for f in fs]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(f.encode() + b"\0")
        with open(os.path.join(tree, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_once(tree, bench, workload, seed):
    os.makedirs(os.path.join(tree, ".bench_build"), exist_ok=True)
    with tempfile.NamedTemporaryFile(suffix=".json", delete=False,
                                     dir=os.path.join(tree, ".bench_build")) as t:
        record = t.name
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0",
                              "--record", record]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True)
    try:
        with open(record) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        rec = None
    os.unlink(record)
    last = p.stdout.strip().splitlines()[-1:] or [""]
    if p.returncode != 0 or rec is None:
        sys.exit(f"run failed in {tree} ({workload}, seed {seed}, exit {p.returncode}): {last[0]}")
    return rec


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def better(a, b, direction):
    return a < b if direction == "lower" else a > b


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--spread", action="store_true")
    a = ap.parse_args()
    if not a.spread and not a.parent:
        ap.error("--parent is required unless --spread")
    bench = load_bench(a.change)
    sides = {"change": a.change} if a.spread else {"parent": a.parent, "change": a.change}
    if not a.spread and bench_digest(a.parent, bench) != bench_digest(a.change, bench):
        sys.exit("the benchmark differs between parent and change: pairs would not compare like with like")
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    box = None
    report = {}
    for w in workloads:
        vals = {s: {m["name"]: [] for m in bench["end_to_end"]} for s in sides}
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = list(sides) if i % 2 == 0 else list(reversed(list(sides)))
            for s in order:
                rec = run_once(sides[s], bench, w, seed)
                if box is None:
                    box = rec["box"]
                elif rec["box"] != box:
                    sys.exit(f"box spec changed between runs: {box} vs {rec['box']}")
                for m in vals[s]:
                    vals[s][m].append(rec["metrics"][m]["value"])
                print(f"{w} pair {i} seed {seed} {s}: " + " ".join(
                    f"{m}={v[-1]:.4g}" for m, v in vals[s].items()), file=sys.stderr, flush=True)
        rows = {}
        for m in bench["end_to_end"]:
            name, bound, d = m["name"], m["bound"], m["better"]
            row = {}
            for s in sides:
                q1, q2, q3 = quartiles(vals[s][name])
                row[s] = {"median": q2, "q1": q1, "q3": q3, "spread": (q3 - q1) / q2,
                          "values": vals[s][name]}
            if a.spread:
                row["bound"] = bound
                row["ok"] = row["change"]["spread"] <= bound
                row["steady"] = row["change"]["spread"] < bound / 3
            else:
                p, c = row["parent"], row["change"]
                wins = sum(better(cv, pv, d) for cv, pv in zip(c["values"], p["values"]))
                worse = (c["median"] - p["median"]) / p["median"] * (1 if d == "lower" else -1)
                if worse > bound:
                    verdict = "regression"
                elif (wins >= 0.9 * a.pairs and better(c["median"], p["median"], d)
                      and abs(c["median"] - p["median"]) > p["q3"] - p["q1"]):
                    verdict = "gain"
                elif p["spread"] > bound and not all(
                        better(cv, pv, d) for cv in c["values"] for pv in p["values"]):
                    verdict = "unresolved"
                else:
                    verdict = "no regression"
                row.update({"wins": wins, "worse_share": worse, "bound": bound, "verdict": verdict})
            rows[name] = row
        report[w] = rows
        print(f"\n== {w}", file=sys.stderr)
        for name, row in rows.items():
            c = row["change"]
            if a.spread:
                print(f"{name:22s} median {c['median']:.4g} spread {c['spread']:.3f} "
                      f"bound {row['bound']} {'steady' if row['steady'] else 'ok' if row['ok'] else 'TOO WIDE'}",
                      file=sys.stderr)
            else:
                p = row["parent"]
                print(f"{name:22s} parent {p['median']:.4g} [{p['q1']:.4g}, {p['q3']:.4g}]  change "
                      f"{c['median']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}]  wins {row['wins']}/{a.pairs}  "
                      f"{row['verdict']}", file=sys.stderr)
    print(json.dumps({"box": box, "pairs": a.pairs, "workloads": report}))


if __name__ == "__main__":
    main()
