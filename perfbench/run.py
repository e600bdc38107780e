#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload chain-realistic --seed 7 --seconds 10 --trace 0

From the root of a checkout it builds the engine and the harness from
source (cached in .bench_build by a hash of the sources), generates the
workload's corpus from --seed, derives the expected outputs
independently (reference.py), runs the harness JVM, checks every
output, and prints ONE JSON line last:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). Any failed or wrong-output operation
makes the exit code non-zero. The full record, keyed by the box spec,
is kept under .bench_build/results for paired.py.
"""
import argparse
import hashlib
import json
import math
import multiprocessing
import os
import pickle
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")

sys.path.insert(0, HERE)
import corpus  # noqa: E402
import reference  # noqa: E402

# The engine broadcasts corpus-payload joins only when the source
# parquet is at most this many bytes (MinHashLsh.corpusIsBounded).
BOUNDED_CORPUS_BYTES = 2 * 1024 * 1024

# docs: corpus size. Sizes keep a whole run, set-up included, inside
# about a minute on 4 cores.
WORKLOADS = {
    "chain-realistic": dict(kind="realistic", docs=11000, side="unbounded"),
    "chain-adversarial": dict(kind="adversarial", docs=2000, side="bounded"),
}
WARM = dict(kind="realistic", seed=0, docs=200)
CHAIN = ["similar_pairs", "pairs_symmetric", "near_dup_groups", "dedup_keep_best"]
# the stream feeds the corpus's first STREAM_DOCS docs (Harness.StreamDocs)
STREAM_DOCS = 300
# tail latency percentile: 15 samples beyond it at 300 docs
STREAM_PCT = 0.95
HEAP = "3g"
JVM_TIMEOUT_S = 150

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class BenchError(Exception):
    pass


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt (offline) once per source
    stamp; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    log("building engine + harness with sbt")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(ROOT, "build.sbt")) as f:
        jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not jars:
        raise BenchError("the engine build names no unmanagedBase jar directory")
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.sparkJars={jars.group(1)}",
    ] + ([f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}"]
         if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else []))
    with open(os.path.join(BUILD, "build.log"), "w") as lf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
                           text=True, timeout=850, stdin=subprocess.DEVNULL)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        raise BenchError(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cp)
    return cp


# ------------------------------------------------------ corpus + reference

def corpus_dir(kind, seed, docs):
    d = os.path.join(BUILD, "corpus", f"v{corpus.VERSION}-{kind}-{seed}-{docs}")
    meta = os.path.join(d, "meta.json")
    if not os.path.exists(meta):
        gen_s, size = corpus.write_corpus(kind, seed, docs, d)
        with open(meta, "w") as f:
            json.dump({"gen_s": gen_s, "bytes": size}, f)
    with open(meta) as f:
        return d, json.load(f)


def load_texts(d):
    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(d, "documents.parquet"))
    ids = t.column("doc_id").to_pylist()
    assert ids == list(range(len(ids))), "corpus doc ids must be 0..n-1 in order"
    return t.column("text").to_pylist()


def expected(d, stream_docs):
    path = os.path.join(d, f"reference-{stream_docs}.pkl")
    if not os.path.exists(path):
        texts = load_texts(d)
        ref = reference.near_dup_pairs(texts, stream_docs)
        ref["chain"] = reference.chain_outputs(texts, ref["similar"])
        with open(path + ".tmp", "wb") as f:
            pickle.dump(ref, f)
        os.replace(path + ".tmp", path)
    with open(path, "rb") as f:
        return pickle.load(f)


def read_rows(path):
    import pyarrow.parquet as pq
    t = pq.read_table(path)
    cols = [t.column(c).to_pylist() for c in t.column_names]
    return set(zip(*cols))


# ----------------------------------------------------------------- harness

def run_harness(cp, args, out):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp] + opens + [
        "-cp", cp, "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()]
    with open(os.path.join(out, "harness.log"), "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=out,
                             start_new_session=True, stdin=subprocess.DEVNULL)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(1)
        # a terminated benchmark must not leave its JVM running
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"harness exceeded {JVM_TIMEOUT_S} s")
    if rc != 0:
        with open(os.path.join(out, "harness.log")) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"harness exited {rc}:\n{tail}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f)


# ----------------------------------------------------------------- metrics

def pct(xs, q):
    """q-th percentile by linear interpolation (numpy's default)."""
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def box_spec(res):
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return {"nproc": res["box"]["nproc"], "mem_total_mb": mem_kb // 1024,
            "heap_mb": res["box"]["heap_mb"], "jdk": res["box"]["jdk"],
            "spark": res["box"]["spark"]}


def recall_check(found, ref):
    """Misses in `found`, the engine's (id_l, id_r) pairs, among the
    planted pairs with exact J >= 0.8; and the most the banding S-curve
    allows: its expected misses sum(1-(1-J^6)^10) plus three standard
    deviations plus one."""
    true = [(k, j) for k, j in ref["planted"].items() if j >= reference.THRESHOLD]
    misses = sum(k not in found for k, _ in true)
    p_miss = [(1 - j ** reference.ROWS) ** reference.BANDS for _, j in true]
    mu = sum(p_miss)
    sd = math.sqrt(sum(p * (1 - p) for p in p_miss))
    return misses, mu + 3 * sd + 1


def evaluate(res, ref, outdir):
    """Check outputs; returns (attempted, failed, problems, per-query
    successful times, chain times)."""
    problems = []
    attempted = failed = 0
    chain_ref = ref["chain"]
    for q in CHAIN:
        attempted += 1
        status = res["check"][q]
        if status != "ok":
            failed += 1
            problems.append(f"check {q}: {status}")
            continue
        got = read_rows(os.path.join(outdir, "check", q))
        wrong = []
        if got != chain_ref[q]:
            wrong.append(f"check {q}: {len(got)} rows, expected {len(chain_ref[q])}, "
                         f"{len(got - chain_ref[q])} unexpected, {len(chain_ref[q] - got)} missing")
        if q == "similar_pairs":
            misses, allowed = recall_check({(l, r) for l, r, _ in got}, ref)
            if misses > allowed:
                wrong.append(f"planted pairs at J >= 0.8 missed: {misses} > {allowed:.1f} "
                             f"allowed by the S-curve")
        failed += bool(wrong)
        problems += wrong
    times = {q: [] for q in CHAIN}
    per_rep = {}
    for op in res["ops"]:
        attempted += 1
        if op["status"] != "ok":
            failed += 1
            problems.append(f"{op['query']} rep {op['rep']}: {op['status']}")
            continue
        if op["traced"] or op["rep"] == 0:
            continue
        times[op["query"]].append(op["seconds"])
        per_rep.setdefault(op["rep"], {})[op["query"]] = op["seconds"]
    chain = [sum(r.values()) for r in per_rep.values() if len(r) == len(CHAIN)]
    attempted += 1
    st = res["stream"]
    if st["status"] != "ok":
        failed += 1
        problems.append(f"stream: {st['status']}")
    else:
        got = {}
        with open(os.path.join(outdir, "stream_pairs.csv")) as f:
            for line in f:
                l, r, j = line.strip().split(",")
                got[(int(l), int(r))] = float(j)
        if got != ref["stream"]:
            failed += 1
            problems.append(f"stream: {len(got)} pairs, expected {len(ref['stream'])}")
        n = len(st["latency_ms"])
        if n != STREAM_DOCS:
            failed += 1
            problems.append(f"stream: {n} latency samples, expected one per doc ({STREAM_DOCS})")
    return attempted, failed, problems, times, chain


def median(xs):
    """Median, or None when every sample failed."""
    xs = list(xs)
    return statistics.median(xs) if xs else None


def end_to_end(res, times, chain, n_docs):
    st = res["stream"]
    sp = median(times["similar_pairs"])
    lat = st.get("latency_ms") or None
    return {
        "chain_s": median(chain),
        "similar_pairs_s": sp,
        "docs_per_s": n_docs / sp if sp else None,
        "stream_p50_ms": pct(lat, 0.50) if lat else None,
        "stream_p95_ms": pct(lat, STREAM_PCT) if lat else None,
        "stream_docs_per_s": st.get("docs_per_busy_s"),
        "setup_s": median(res["setup_s"]),
    }


def per_layer(res, times, gen_s):
    st = res["stream"]
    out = dict(res["layers"])
    for q in CHAIN[1:]:
        out[f"query.{q}_s"] = median(times[q])
    batches = st.get("batches", [])  # [batch id, input rows, trigger ms, addBatch ms]
    out["stream.batch_ms_p50"] = median(b[2] for b in batches)
    out["stream.addbatch_share"] = (sum(b[3] for b in batches) / sum(b[2] for b in batches)
                                    if batches else None)
    out["stream.input_rows_per_batch"] = median(b[1] for b in batches)
    out["stream.batches"] = len(batches)
    out["stream.state_rows"] = st.get("state_rows")
    out["stream.state_mb"] = st["state_bytes"] / 2 ** 20 if "state_bytes" in st else None
    out["stream.backlog_docs"] = st.get("backlog_docs_max")
    out["stream.gen_late_ms_max"] = st.get("gen_late_ms_max")
    out["runtime.peak_rss_mb"] = res["peak_rss_mb"]
    out["setup.first_s"] = res["setup_s"][0]
    out["setup.session_s"] = median(res["setup_session_s"])
    out["setup.warm_s"] = median(res["setup_warm_s"])
    out["gen.s"] = gen_s
    # tracing overhead: listener-traced reps against plain reps of the same run
    traced, plain = {}, {}
    for op in res["ops"]:
        if op["status"] == "ok" and op["rep"] > 0:
            (traced if op["traced"] else plain).setdefault(op["query"], []).append(op["seconds"])
    if all(traced.get(q) and plain.get(q) for q in CHAIN):
        def gap(q):
            return median(traced[q]) - median(plain[q])
        out["trace.overhead_similar_pairs_s"] = gap("similar_pairs")
        out["trace.overhead_chain_s"] = sum(gap(q) for q in CHAIN)
    return out


def load_benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -------------------------------------------------------------------- main

def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", default="",
                    help="self-test only: throw:<query>,wrong:<query>")
    ap.add_argument("--record", help="write the full run record here (default: .bench_build/results)")
    a = ap.parse_args(argv)
    w = WORKLOADS[a.workload]

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        log(f"engine sources not found under {ENGINE_SRC}: run from a checkout of the repository")
        return 2
    bench = load_benchmark()
    try:
        t_start = time.time()
        cp = build()
        cdir, meta = corpus_dir(w["kind"], a.seed, w["docs"])
        side = "bounded" if meta["bytes"] <= BOUNDED_CORPUS_BYTES else "unbounded"
        if side != w["side"]:
            raise BenchError(f"corpus is {meta['bytes']} B ({side}); workload expects {w['side']}")
        quarter, _ = corpus_dir(w["kind"], a.seed, w["docs"] // 4)
        warm, _ = corpus_dir(WARM["kind"], WARM["seed"], WARM["docs"])
        # the reference is derived on one core while the harness JVM boots
        # (its first set-up, which the set-up median leaves out)
        derive = multiprocessing.Process(target=expected, args=(cdir, STREAM_DOCS))
        derive.start()
        out = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        t0 = time.time()
        res = run_harness(cp, {
            "corpus": cdir, "quarter": quarter, "warm": warm, "out": out,
            "seconds": a.seconds, "trace": a.trace, "inject": a.inject,
        }, out)
        derive.join()
        if derive.exitcode != 0:
            raise BenchError("reference derivation failed")
        ref = expected(cdir, STREAM_DOCS)
        log(f"prepare {t0 - t_start:.1f} s, harness {time.time() - t0:.1f} s")
        attempted, failed, problems, times, chain = evaluate(res, ref, out)
        for p in problems:
            log("FAIL " + p)
        if a.trace:
            metrics = per_layer(res, times, meta["gen_s"])
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        else:
            metrics = end_to_end(res, times, chain, w["docs"])
            units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        missing = [n for n in units if metrics.get(n) is None]
        if missing and not failed:
            raise BenchError(f"metrics not measured: {missing}")
        record = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
            "box": box_spec(res), "corpus_bytes": meta["bytes"], "side": side,
            "attempted": attempted, "failed": failed, "problems": problems,
            "metrics": {k: {"value": v, "unit": units.get(k)} for k, v in metrics.items()},
            "samples": {"times": times, "chain": chain, "setup_s": res["setup_s"]},
        }
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        rec_path = a.record or os.path.join(
            BUILD, "results", f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}.json")
        with open(rec_path, "w") as f:
            json.dump(record, f, indent=1)
        if a.trace:
            # the span file stays beside the record; the run directory goes
            trace_path = os.path.splitext(rec_path)[0] + ".trace.jsonl"
            shutil.copyfile(os.path.join(out, "trace.jsonl"), trace_path)
            log(f"spans: {trace_path}")
        shutil.rmtree(out, ignore_errors=True)
    except (BenchError, subprocess.TimeoutExpired) as e:
        log(f"error: {e}")
        return 1
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
