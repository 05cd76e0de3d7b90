#!/usr/bin/env python3
"""perfbench: one command that builds the library from source, runs one
workload against its public calls, checks every output, and prints the
metrics.

    python3 perfbench/run.py --workload rag_serve --seed 3 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`). The lines
before it give, per op type, how many ops were attempted, failed and
checked, and their median latency. A traced run also writes its per-op
layer split to `.bench_trace/<workload>-<seed>.json`.

The build (scalac from the Spark distribution found through SPARK_HOME or
`spark-submit` on PATH) goes to `.bench_build/` and is reused while the
sources are unchanged. Each run works in a fresh `.bench_work/` directory,
removed at exit.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

# Set-ups per run (set-up time is their median) and warm-up rounds before
# the timed window opens.
WORKLOADS = {"rag_serve": dict(setups=1, warm=1), "mixed_rw": dict(setups=3, warm=2)}
HEAP = "2g"
JVM_TIMEOUT_S = 160
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
PER_LAYER = ["driver.call_ms", "driver.action_ms", "driver.self_ms",
             "catalyst.query_executions", "catalyst.analysis_ms", "catalyst.optimization_ms",
             "catalyst.planning_ms", "spark.jobs", "spark.stages", "spark.tasks", "spark.job_ms",
             "spark.task_ms", "spark.task_cpu_ms", "spark.task_gc_ms", "spark.shuffle_read_bytes",
             "spark.shuffle_write_bytes", "spark.input_records", "spark.input_bytes",
             "spark.output_bytes", "fs.list_calls", "fs.status_calls", "fs.open_calls",
             "fs.create_calls", "fs.rename_delete_calls", "fs.bytes_written",
             "ingest.embed_texts", "ingest.embed_ms", "core.data_files",
             "core.bytes_per_live_byte", "jvm.gc_ms", "jvm.jit_ms", "jvm.heap_used_peak_mb"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        fail("no Spark distribution with a Scala compiler (set SPARK_HOME)")
    return os.path.join(home, "jars", "*")


def build(jars):
    """Compiles the library and the harness into .bench_build, unless the
    sources match the last build."""
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not lib:
        fail("no library sources under src/main/scala")
    h = hashlib.sha256()
    for f in lib + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    lib_out, bench_out = os.path.join(BUILD, "lib"), os.path.join(BUILD, "bench")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return lib_out, bench_out
    shutil.rmtree(BUILD, ignore_errors=True)
    for out, srcs, cp in ((lib_out, lib, jars), (bench_out, bench, lib_out + os.pathsep + jars)):
        os.makedirs(out)
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                            "-nowarn", "-d", out, "-classpath", cp] + srcs,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            fail("build failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return lib_out, bench_out


def run_jvm(cp, workload, inputs, work, seconds, trace, out):
    cfg = WORKLOADS[workload]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1", f"-Djava.io.tmpdir={tmp}",
              "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.PerfMain", workload, inputs,
              work, str(seconds), str(trace), out, str(cfg["setups"]), str(cfg["warm"])])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            fail(f"benchmark JVM exited with {rc}:\n" + f.read()[-4000:])


def summarise(workload, inp, records, trace, seed):
    ck = check.Checker(inp)
    ops, setups, meta, errors = [], [], {}, []
    per_op, stages = {}, {}
    for rec in records:
        if rec["t"] == "setup":
            setups.append(rec["s"])
        elif rec["t"] == "meta":
            meta = rec
        elif rec["t"] == "op":
            if rec["phase"] == "setup":
                stages.setdefault(rec["op"], []).append(round(rec["ms"] / 1e3, 2))
            st = per_op.setdefault(rec["op"], {"attempted": 0, "failed": 0, "checked": 0, "ms": [],
                                               "warm_ms": []})
            timed = rec["phase"] == "timed"
            if timed:
                st["attempted"] += 1
            if not rec["ok"]:
                if timed:
                    st["failed"] += 1
                else:
                    errors.append(f"{rec['phase']} {rec['op']} failed: {rec['res']}")
                continue
            errs = ck.op(rec)
            st["checked"] += 1
            if errs:
                errors.append(f"{rec['phase']} {rec['op']} q={rec['q']}: {errs[:3]}")
            if timed:
                st["ms"].append(rec["ms"])
                ops.append(rec)
            elif rec["phase"] == "warm":
                st["warm_ms"].append(rec["ms"])
    p50 = {name: statistics.median(st["ms"]) for name, st in per_op.items() if st["ms"]}
    for name, st in per_op.items():
        if not st["attempted"] and not st["warm_ms"]:
            continue  # a set-up stage or the recall call: timed in the line below
        rec = ck.read_recall.get(name)
        print(json.dumps({"op": name, "attempted": st["attempted"], "failed": st["failed"],
                          "checked": st["checked"], "p50_ms": p50.get(name),
                          "recall_mean": statistics.mean(rec) if rec else None,
                          "recall_min": min(rec) if rec else None,
                          "warm_ms": [round(x) for x in st["warm_ms"]],
                          "timed_ms": [round(x) for x in st["ms"]]}))
    for e in errors[:10]:
        print("check failed:", e)
    attempted = sum(st["attempted"] for st in per_op.values())
    failed = sum(st["failed"] for st in per_op.values())
    if not ops or not setups or ck.bulk_recall is None or "ivf" not in p50:
        fail("run produced no timed ops, set-ups, ivf reads or recall set")
    # one client, each op type weighed the same: the geometric mean over op
    # types of the rate 1 / median latency, so a cheap op's gain moves it
    # as much as an expensive op's
    ops_per_s = math.exp(statistics.mean(math.log(1e3 / v) for v in p50.values()))
    print(json.dumps({"ops_per_s": ops_per_s, "setups_s": setups, "setup_stages_s": stages,
                      "jvm": meta}))
    if not trace:
        m = {"setup_s": (statistics.median(setups), "s"), "ops_per_s": (ops_per_s, "1/s"),
             "ivf_p50_ms": (p50["ivf"], "ms"),
             "recall_at_10": (statistics.mean(ck.bulk_recall), "ratio"),
             "peak_rss_mb": (meta["peak_rss_mb"], "MB")}
    else:
        m = layer_metrics(ops, records, seed, workload)
    return not errors, attempted, failed, {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes") or name == "fs.bytes_written":
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    return "count" if name != "core.bytes_per_live_byte" else "ratio"


def layer_metrics(ops, records, seed, workload):
    """Per-request means over the timed window, plus the dedup layer's
    counts from the set-up's near-duplicate stage."""
    n = len(ops)
    m = {k: (sum(r["layers"].get(k, 0.0) for r in ops) / n, unit(k)) for k in PER_LAYER}
    rows = sum(r["layers"]["search.result_rows"] for r in ops)
    m["search.rows_scanned_per_result"] = (
        sum(r["layers"]["spark.input_records"] for r in ops) / max(rows, 1.0), "ratio")
    mh = [r for r in records if r["t"] == "op" and r["op"] == "dedup_minhash" and r["ok"]]
    cand = len(mh[-1]["res"]["a"]) if mh else 0
    ver = sum(1 for e in mh[-1]["res"]["est"] if e >= 0.5) if mh else 0
    m["dedup.candidate_pairs"] = (float(cand), "count")
    m["dedup.verified_pairs"] = (float(ver), "count")
    m["dedup.verified_per_candidate"] = (ver / cand if cand else 0.0, "ratio")
    os.makedirs(os.path.join(ROOT, ".bench_trace"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_trace", f"{workload}-{seed}.json"), "w") as f:
        json.dump([{k: r[k] for k in ("phase", "op", "q", "r", "ms", "layers")}
                   for r in records if r["t"] == "op"], f)
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    jars = spark_jars()
    lib_out, bench_out = build(jars)
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        gen.make(a.workload, a.seed, inputs)
        out = os.path.join(work, "ops.jsonl")
        t0 = time.time()
        run_jvm(os.pathsep.join([bench_out, lib_out, jars]), a.workload, inputs, work,
                a.seconds, a.trace, out)
        with open(out) as f:
            records = [json.loads(line) for line in f]
        correct, attempted, failed, metrics = summarise(
            a.workload, check.Inputs(inputs), records, a.trace, a.seed)
        print(json.dumps({"jvm_wall_s": round(time.time() - t0, 1)}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
