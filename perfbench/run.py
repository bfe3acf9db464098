#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, two seeded workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script builds the engine and the
benchmark harness from source (cached under perfbench/out/ by a hash of the
sources), generates the inputs, runs the workload in one JVM, checks every
output against an oracle and prints the result as the last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from a run that traces half of its operations. The line
before it
carries the run's context (cpus, seed, sample counts,
workload-specific figures). Everything the run writes stays under perfbench/out/.
See perfbench/NOTES.md for the workloads and the metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import httpmix  # noqa: E402
import oracle  # noqa: E402
from oracle import beyond, pct  # noqa: E402

WORKLOADS = ["http_navigational", "pipeline_ingest"]
PIPELINE_KEYS = ["q_dedup_minhash", "q_dedup_ngram", "q_dedup_clusters", "q_lm_score",
                 "q_lm_buckets", "q_quality_model", "q_trainset"]
END_TO_END = {  # name -> unit
    "setup_s": "s", "latency_p50_ms": "ms", "latency_p75_ms": "ms",
    "throughput_per_s": "1/s", "peak_rss_mb": "MB"}
HTTP_CLIENTS = 2
PIPELINE_DOCS = 300
INGEST_ARRIVALS = 3
INGEST_DOCS_PER_ARRIVAL = 150
INGEST_COMPACT_FILES = 3
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jars: under $SPARK_HOME, else the project build's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        raise SystemExit("set SPARK_HOME to a Spark installation")
    return m.group(1)


# ---- build ------------------------------------------------------------------

def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "scala")]
    files = []
    for r in roots:
        if not os.path.isdir(r):
            raise SystemExit(f"missing source directory {os.path.relpath(r, ROOT)}")
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build():
    """Compile the engine and the harness with scalac (the Scala compiler
    ships in Spark's jars); reuse the classes while the sources hash the
    same."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"compiling {len(files)} sources")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    jars = os.path.join(spark_jars(), "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
                        "scala.tools.nsc.Main",
                        "-d", tmp, "-classpath", jars, "-nowarn", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    return classes


# ---- standing inputs (fixed seed, written once per checkout) ----------------

def standing(name, make):
    path = os.path.join(OUT, "data", name)
    if not os.path.isdir(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        gen.write_tables(path, make())
    return path


def star_tables():
    return standing("star-v1", lambda: gen.star_schema(gen.TABLE_SEED))


def pipeline_corpus():
    return standing(f"docs-{PIPELINE_DOCS}-v1", lambda: {
        "documents": gen.documents(PIPELINE_DOCS, gen.TABLE_SEED + PIPELINE_DOCS)})


# ---- per-workload inputs from the seed ----------------------------------------

def write_lines(work, name, lines):
    path = os.path.join(work, name)
    with open(path, "w") as fh:
        fh.write("".join(line + "\n" for line in lines))
    return path


def prepare_http(rng, work, seconds):
    # far more requests than a run can send; they are taken in order
    reqs = httpmix.draw(rng, max(2000, int(seconds * 200)))
    urls = [f"{name}\t{httpmix.render(name, lits, fmt)[0]}" for name, lits, fmt in reqs]
    warm = [httpmix.render(name, lits, fmt)[0] for name, lits, fmt in httpmix.warmup()]
    return {"data": star_tables(), "urls": write_lines(work, "urls.txt", urls),
            "warmup": write_lines(work, "warmup.txt", warm),
            "clients": HTTP_CLIENTS}, {"requests": reqs}


def arrival_files(docs, cuts, clone_ids, folder):
    """Split `docs` (id-ordered) at `cuts` into arrival files and plant an
    NFC-equal clone (id + 2, decomposed accent) of every id in `clone_ids`
    next to its source (which gets the composed accent). One line per file:
    path, documents, text bytes."""
    os.makedirs(folder, exist_ok=True)
    lines = []
    bounds = [0] + list(cuts) + [len(docs)]
    for n, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        ids, texts = [], []
        for i, t in docs[lo:hi]:
            if i in clone_ids:
                ids += [i, i + 2]
                texts += [t + " caf\u00e9", t + " cafe\u0301"]
            else:
                ids.append(i)
                texts.append(t)
        path = os.path.join(folder, f"a{n:03d}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(texts, pa.string())}), path)
        lines.append(f"{path}\t{len(ids)}\t{sum(len(t.encode()) for t in texts)}")
    return lines


def prepare_pipeline_ingest(rng, work, seconds):
    passes = [",".join(rng.permutation(PIPELINE_KEYS)) for _ in range(64)]
    n = INGEST_ARRIVALS * INGEST_DOCS_PER_ARRIVAL
    corpus = gen.documents(n, gen.TABLE_SEED + 7).column("text").to_pylist()
    # ids are multiples of 4, so a clone's id + 2 is free
    docs = [(4 * i, t) for i, t in enumerate(corpus)]
    cuts = sorted(rng.choice(np.arange(1, n), INGEST_ARRIVALS - 1, replace=False))
    clones = {docs[int(j)][0] for j in rng.choice(n, n // 40, replace=False)}
    arrivals = arrival_files(docs, cuts, clones, os.path.join(work, "arrivals"))
    words = [w for w in gen.WORDS if w not in ("a", "the")]
    # 1, 2 and 3 terms in turn, so the mix does not drift with the seed
    searches = [" ".join(rng.choice(words, i % 3 + 1, replace=False)) for i in range(3000)]
    return {"data": pipeline_corpus(),
            "passes": write_lines(work, "passes.txt", passes),
            "arrivals": write_lines(work, "arrivals.txt", arrivals),
            "searches": write_lines(work, "searches.txt", searches),
            "compact_files": INGEST_COMPACT_FILES}, {"arrivals": arrivals}


PREPARE = {"http_navigational": prepare_http, "pipeline_ingest": prepare_pipeline_ingest}


# ---- JVM ----------------------------------------------------------------------

def run_jvm(classes, work, props, deadline):
    cfg = os.path.join(work, "config.properties")
    with open(cfg, "w") as fh:
        for k, v in props.items():
            fh.write(f"{k}={str(v).replace(chr(92), chr(92) * 2)}\n")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", f"{classes}:{os.path.join(spark_jars(), '*')}",
            "graftbench.Main", cfg]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        env = dict(os.environ)
        env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
        env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("JVM timed out")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    res_path = os.path.join(work, "result.json")
    res = json.load(open(res_path)) if os.path.exists(res_path) else {}
    if p.returncode != 0 or "error" in res:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        sys.stderr.write(tail)
        raise SystemExit(f"JVM failed: {res.get('error', p.returncode)}")
    return res


# ---- metrics ------------------------------------------------------------------

def http_figures(phase):
    """Request latencies, and requests served per second."""
    reqs = phase["requests"]
    return [r["lat_ms"] for r in reqs], len(reqs) / phase["wall_s"]


def pipeline_ingest_figures(phase):
    """Search latencies, and documents processed per second of batch work:
    every operator key call processes the corpus, every drain its arrival."""
    passes, drains = phase["pipeline"]["passes"], phase["ingest"]["drains"]
    docs = PIPELINE_DOCS * sum(len(p["ops"]) for p in passes) + \
        sum(d["docs"] for d in drains)
    busy = sum(p["wall_s"] for p in passes) + sum(d["wallS"] for d in drains)
    return [s["latMs"] for s in phase["ingest"]["searches"]], docs / busy


FIGURES = {"http_navigational": http_figures, "pipeline_ingest": pipeline_ingest_figures}


def end_to_end(workload, res):
    lat, tput = FIGURES[workload](res["untraced"])
    return {"setup_s": res["setup_s"],
            "latency_p50_ms": pct(lat, 50), "latency_p75_ms": pct(lat, 75),
            "throughput_per_s": tput, "peak_rss_mb": res["peak_rss_mb"]}, lat


def overhead(workload, res):
    """Traced over untraced median latency, minus 1."""
    if workload == "pipeline_ingest":
        s = res["traced"]["ingest"]["searches"]
        on = [x["latMs"] for x in s if x["traced"]]
        off = [x["latMs"] for x in s if not x["traced"]]
    else:
        on, off = FIGURES[workload](res["traced"])[0], FIGURES[workload](res["untraced"])[0]
    return pct(on, 50) / pct(off, 50) - 1


def per_layer(workload, res):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    layers = dict(res["layers"])
    layers["trace.overhead_frac"] = overhead(workload, res)
    layers["traced_latency_p50_ms"] = pct(FIGURES[workload](res["traced"])[0], 50)
    return {n: {"value": float(layers.get(n, 0.0)), "unit": units[n]} for n in units}, layers


def self_times(spans):
    """Per span name: total duration minus the time its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        child = sum(c["dur_ms"] for c in kids.get(s["id"], []))
        out[s["name"]] = out.get(s["name"], 0.0) + s["dur_ms"] - child
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    os.makedirs(OUT, exist_ok=True)
    classes = build()
    start = time.time()
    work = os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    rng = np.random.default_rng(a.seed)
    props, drawn = PREPARE[a.workload](rng, work, a.seconds)
    cpus = len(os.sched_getaffinity(0))
    props.update({"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                  "cpus": cpus, "work": work, "result": os.path.join(work, "result.json"),
                  "parent_pid": os.getpid()})
    res = run_jvm(classes, work, props, start + JVM_TIMEOUT_S)
    checks = oracle.CHECKS[a.workload](res, work, props, drawn)
    report = {"workload": a.workload, "seed": a.seed, "cpus": cpus, "trace": a.trace,
              "seconds": a.seconds,
              "checks": checks["notes"]}
    if a.trace:
        metrics, layers = per_layer(a.workload, res)
        report["layers"] = layers
        report["self_time_ms"] = self_times(res.get("spans", []))
    else:
        values, lat = end_to_end(a.workload, res)
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        report["samples"] = {"latency": len(lat), "beyond_p50": beyond(lat, 50),
                             "beyond_p75": beyond(lat, 75)}
    report.update(checks.get("figures", {}))
    os.makedirs(os.path.join(OUT, "reports"), exist_ok=True)
    with open(os.path.join(OUT, "reports", f"{a.workload}-{a.seed}-{a.trace}.json"),
              "w") as fh:
        json.dump({"report": report, "spans": res.get("spans", [])}, fh)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": checks["failed"] == 0, "attempted": checks["attempted"],
                      "failed": checks["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
